package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Everything is built from
  * deterministic portable hashes ([[TextAnalysis.tokenHash]] / the
  * native [[TextHashFns]] kernels) so the full pipelines are
  * cross-engine verifiable, and everything is expressed as DataFrame
  * ops whose shuffles are on dedup keys only:
  *
  *  - exact: one hash-aggregate on md5 (map-side combine).
  *  - MinHash: ONE-PASS per-row signature (native codegen'd kernel —
  *    no explode, no shuffle), then LSH banding → bucket self-join
  *    restricted to bucket collisions, with a bucket-size cap that
  *    diverts template families to the linear GROUP path — the
  *    candidate set stays tiny vs n² even under skew, which is the
  *    entire point of LSH at 100 TB.
  *  - SimHash: one scan computing a 16-bit signature per doc from
  *    token-hash bit sums, then a bucket aggregate.
  *  - n-gram Jaccard: array intersections over candidate pairs only.
  */
object Dedup {

  /** Mersenne-ish prime modulus for the permutation universe (fits
    * multiplications in int64 on any engine). */
  val P: Long = 2147483647L
  /** Fixed permutation coefficients (hash_i = (a_i·x + b_i) mod P). */
  val MinhashAs: Seq[Long] = Seq(1103515245L % P, 214013L, 69069L, 1664525L,
    22695477L, 134775813L, 214903917L % P, 48271L)
  val MinhashBs: Seq[Long] = Seq(12345L, 2531011L, 362437L, 1013904223L,
    1L, 1L, 777L, 0L)
  val NumPerms: Int = 8
  /** 4 bands × 2 rows. */
  val NumBands: Int = 4

  /** Exact duplicate groups: one row per distinct text hash with its
    * representative (min id) and multiplicity. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct-token hash list h = tokenHash(tok) mod P, per row. */
  private def tokenHashes(text: Column): Column =
    transform(array_distinct(TextAnalysis.tokens(text)),
      t => TextAnalysis.tokenHash(t) % lit(P))

  /** Per-document MinHash signature columns sig0..sig{k−1} over the
    * DISTINCT whitespace-token set.
    *
    * Computed per ROW in one pass by the native codegen'd
    * [[MinhashSigsExpr]] (tokenize → md5 → permuted min-fold in a
    * tight loop) — no explode, no shuffle: the signature stage is a
    * pure map, so it scales with the scan. [[minhashSignaturesSpec]]
    * is the composable array-expression form it is
    * equivalence-tested against.
    *
    * Null-text documents are dropped (the cheap `isNotNull` BEFORE
    * the kernel — an equivalent sentinel filter on the signature
    * would be alias-substituted below the projection by Catalyst and
    * run the tokenize+md5+fold kernel TWICE per row). Note empty /
    * whitespace-only text is NOT token-less: `split(" ", -1)` yields
    * the empty token, so blank docs share that token's signature and
    * collapse into one near-dup family — the kernel's all-P sentinel
    * is unreachable for non-null input (x mod P < P). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        keep: Seq[String] = Nil): DataFrame = {
    // each sig column is KnownNotNull (the kernel array always has
    // NumPerms entries for non-null text, and text is filtered and
    // marked below): sig columns serve as equi-join keys in the
    // incremental/bloom forms, and a NULLABLE key makes
    // InferFiltersFromConstraints push isnotnull(element_at(kernel))
    // below this projection — kernel 2x per row (PlanAudit r11)
    val sigCols = (0 until NumPerms).map(i =>
      PlanHints.knownNotNull(element_at(col("__mh"), i + 1)).as(s"sig$i"))
    df.where(col(textCol).isNotNull)
      .select((col(idCol) +: keep.map(col)) :+
        TextHashExpressions.minhashSigs(
          PlanHints.knownNotNull(col(textCol))).as("__mh"): _*)
      .select((col(idCol) +: keep.map(col)) ++ sigCols: _*)
  }

  /** Composable higher-order-function form of [[minhashSignatures]]
    * (the executable spec: `aggregate` min-fold with a
    * struct-of-8-mins accumulator over the token-hash list). */
  def minhashSignaturesSpec(df: DataFrame, textCol: String, idCol: String,
                            keep: Seq[String] = Nil): DataFrame = {
    val acc0 = struct((0 until NumPerms).map(i => lit(P).as(s"sig$i")): _*)
    val folded = aggregate(col("hs"), acc0, (acc, h) =>
      struct((0 until NumPerms).map(i =>
        least(acc.getField(s"sig$i"),
          (lit(MinhashAs(i)) * h + lit(MinhashBs(i))) % lit(P))
          .as(s"sig$i")): _*))
    val sigs = (0 until NumPerms).map(i =>
      col("mh").getField(s"sig$i").as(s"sig$i"))
    df.select((col(idCol) +: keep.map(col)) :+
        tokenHashes(col(textCol)).as("hs"): _*)
      .where(size(col("hs")) > 0)
      .select((col(idCol) +: keep.map(col)) :+ folded.as("mh"): _*)
      .select((col(idCol) +: keep.map(col)) ++ sigs: _*)
  }

  /** Band rows over a PRE-COMPUTED signature frame — lets callers that
    * already hold (possibly cached) signatures avoid re-running the
    * tokenize+hash kernel per consumer. */
  private def bandRowsFromSigs(sigs: DataFrame, idCol: String,
                               numBands: Int): DataFrame = {
    require(NumPerms % numBands == 0, s"numBands must divide $NumPerms")
    val rows = NumPerms / numBands
    val bandKeys = array((0 until numBands).map { b =>
      struct(lit(b).as("band"), concat_ws("_",
        (0 until rows).map(r => col(s"sig${b * rows + r}")): _*).as("band_key"))
    }: _*)
    sigs.select(col(idCol),
      array((0 until NumPerms).map(i => col(s"sig$i")): _*).as("sig"),
      explode(bandKeys).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band"), col("bk.band_key"))
  }

  /** Distinct candidate pairs (a < b) from bucket collisions, with the
    * fraction of agreeing signature components (the MinHash Jaccard
    * estimate).
    *
    * The signature vector rides along on each band row (8 longs —
    * negligible shuffle weight), so the bucket self-join yields both
    * signatures directly and the estimate is a `zip_with` over the two
    * arrays: one aggregation + one self-join total, no signature
    * re-join and no cache. A pair colliding in several bands gets the
    * same estimate each time, so the final `distinct` still dedups. */
  def minhashCandidates(df: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    minhashCandidates(df, textCol, idCol, maxBucket = 0, NumBands)

  /** As above, with the skew bound that makes pair generation safe at
    * 100 TB: `maxBucket > 0` drops buckets holding more than that many
    * docs from the pair join. A template family of B near-identical
    * docs otherwise collides into ONE band bucket and explodes into
    * B²/2 pairs in a single task; with the cap, pair cost is bounded by
    * O(#buckets · maxBucket²) and the diverted family is still deduped
    * linearly by [[minhashGroups]] (route [[oversizeBuckets]] members
    * there — a bucket that large is a template family by construction,
    * not a borderline near-dup case needing pairwise scores).
    *
    * The bucket-size filter is one extra hash aggregate over the band
    * rows (map-side partial, output is bucket-cardinality-sized) joined
    * back on the same key the self-join shuffles on, so the exchange is
    * shared — no extra shuffle of the data. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxBucket: Int, numBands: Int): DataFrame =
    minhashCandidatesAndOversize(df, textCol, idCol, maxBucket,
      numBands)._1

  /** Capped candidate pairs AND the diverted-bucket stats from ONE
    * banded-signature lineage (callers needing both — the standard
    * pipeline shape — should use this rather than separate
    * [[minhashCandidates]]/[[oversizeBuckets]] calls, which rebuild
    * the signature pipeline independently). */
  def minhashCandidatesAndOversize(df: DataFrame, textCol: String,
      idCol: String, maxBucket: Int,
      numBands: Int = NumBands): (DataFrame, DataFrame) =
    minhashCandidatesAndOversizeFromSigs(
      minhashSignatures(df, textCol, idCol), idCol, maxBucket, numBands)

  /** As above over a pre-computed (possibly cached) signature frame. */
  def minhashCandidatesAndOversizeFromSigs(sigs: DataFrame,
      idCol: String, maxBucket: Int,
      numBands: Int = NumBands): (DataFrame, DataFrame) = {
    val bands = bandRowsFromSigs(sigs, idCol, numBands)
    val sizes = bands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__bn"))
    val eligible =
      if (maxBucket <= 0) bands
      else bands.join(
        sizes.where(col("__bn") <= maxBucket).select("band", "band_key"),
        Seq("band", "band_key"))
    val agree = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (a, b) => a === b), w => w))
    val cand = eligible.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        (agree.cast("double") / lit(NumPerms.toDouble)).as("est_jaccard"))
      .distinct()
    // cap ≤ 0 disables the candidate cap; for the oversize view it
    // degenerates to "every (non-empty) bucket", preserving the
    // pre-refactor oversizeBuckets(…, 0) behavior of listing all
    // bucket sizes
    val oversize = sizes.where(col("__bn") > math.max(maxBucket, 0))
      .select(col("band"), col("band_key"), col("__bn").as("n_docs"))
    (cand, oversize)
  }

  /** Buckets larger than `maxBucket` — the ones [[minhashCandidates]]
    * diverts. One row per (band, band_key) with its size; members are
    * recovered by joining back on the key, and deduped linearly via
    * [[minhashGroups]]. */
  def oversizeBuckets(df: DataFrame, textCol: String, idCol: String,
                      maxBucket: Int,
                      numBands: Int = NumBands): DataFrame =
    minhashCandidatesAndOversize(df, textCol, idCol, maxBucket,
      numBands)._2

  /** Near-duplicate GROUPS by full MinHash signature: one row per
    * signature with the representative (min id) and multiplicity.
    *
    * This — not pair enumeration — is the 100 TB dedup path: corpora
    * with large template families make the candidate-PAIR set
    * quadratic in group size (the sf0.1 testdata already yields ~10M
    * pairs from 5k docs), while the group view is one hash aggregation,
    * linear in documents, exactly like [[exactGroups]]. Use
    * [[minhashCandidates]] when the pair list itself is the product
    * (e.g. audit sampling), with a similarity floor to keep it small. */
  def minhashGroups(df: DataFrame, textCol: String,
                    idCol: String): DataFrame = {
    val sigs = minhashSignatures(df, textCol, idCol)
    sigs.groupBy((0 until NumPerms).map(i => col(s"sig$i")): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** The deduplicated corpus itself: the full rows of one
    * representative (min id) per MinHash signature — what a cleaning
    * pipeline actually emits. One signature aggregate + one id join
    * back (shuffle on the id only); null-text docs, which carry no
    * signature, are dropped like every dedup path here (empty-string
    * docs DO carry the empty-token signature — see
    * [[minhashSignatures]] — and dedupe into one kept blank). */
  def dedupedCorpus(df: DataFrame, textCol: String,
                    idCol: String): DataFrame =
    df.join(minhashGroups(df, textCol, idCol)
      .select(col("keep_id").as(idCol)), Seq(idCol))

  /** Incremental-ingest dedup: ORIGINAL rows of `newDf` (all its
    * columns, plus the sig0..sigN signature columns) whose MinHash
    * signature does NOT already appear in `corpus` — the shape a
    * continuously fed corpus needs (dedup the day's batch against the
    * petabyte archive without re-deduping the archive). One signature
    * scan per side (both pure map passes), then a LEFT ANTI join on
    * the 8-long signature: the corpus side reduces to its DISTINCT
    * signatures first (one hash aggregate, linear), so the join's
    * build side is signature-cardinality-sized, not corpus-sized; the
    * final id join-back is batch-sized, not archive-sized. Token-less
    * batch docs carry no signature and are dropped, like every dedup
    * path here. In steady state the archive's signature set is a
    * bucketed table maintained incrementally — only the batch is
    * scanned per ingest. */
  def newAgainstCorpus(newDf: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val sigCols = (0 until NumPerms).map(i => s"sig$i")
    val corpusSigs = minhashSignatures(corpus, textCol, idCol)
      .select(sigCols.map(col): _*).distinct()
    val survivors = minhashSignatures(newDf, textCol, idCol)
      .join(corpusSigs, sigCols, "left_anti")
    newDf.join(survivors, Seq(idCol))
  }

  /** Incremental NEAR-dup detection against an archive — the
    * approximate sibling of [[newAgainstCorpus]]'s exact-signature
    * anti-join: which batch docs likely near-duplicate ANY archive
    * doc, via band-bucket collisions batch→corpus plus the
    * signature-agreement Jaccard estimate.
    *
    * Returns one row per batch doc with ≥1 collision: (idCol,
    * best_est, n_hits, oversize_hit). `maxBucket > 0` excludes
    * ARCHIVE buckets above the cap from pairwise estimation, but a
    * batch doc landing in one is still reported, with
    * `oversize_hit = true` and null best_est — a bucket that large
    * is a template family, near-dup by construction, and scoring a
    * batch doc against its B members would be the exact hotspot the
    * cap exists to avoid.
    *
    * Scale shape: two signature maps, one archive bucket-size
    * aggregate (map-side partial), one equi-join on (band, band_key)
    * batch→corpus — the archive is NEVER self-joined, shuffles carry
    * band keys + 8-long signatures only. */
  def newNearDupsAgainstCorpus(newDf: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, maxBucket: Int = 0,
      numBands: Int = NumBands): DataFrame = {
    val bBands = bandRowsFromSigs(
      minhashSignatures(newDf, textCol, idCol), idCol, numBands)
    val cBands = bandRowsFromSigs(
      minhashSignatures(corpus, textCol, idCol), idCol, numBands)
    val sizes = cBands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__bn"))
    val eligible =
      if (maxBucket <= 0) cBands
      else cBands.join(
        sizes.where(col("__bn") <= maxBucket).select("band", "band_key"),
        Seq("band", "band_key"))
    val agree = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (a, b) => a === b), w => w))
    val scored = bBands.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col(s"x.$idCol").as(idCol), col(s"y.$idCol").as("__cid"),
        (agree.cast("double") / lit(NumPerms.toDouble)).as("__est"))
      .distinct()
      .groupBy(col(idCol))
      .agg(max(col("__est")).as("best_est"),
        count(lit(1)).as("n_hits"))
    val oversizeHits =
      if (maxBucket <= 0) null
      else bBands.join(
          sizes.where(col("__bn") > maxBucket).select("band", "band_key"),
          Seq("band", "band_key"))
        .select(col(idCol)).distinct()
        .withColumn("oversize_hit", lit(true))
    if (oversizeHits == null)
      scored.withColumn("oversize_hit", lit(false))
    else
      scored.join(oversizeHits, Seq(idCol), "full")
        .select(col(idCol), col("best_est"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("oversize_hit"), lit(false)).as("oversize_hit"))
  }

  /** Incremental CLUSTER maintenance — assign a new batch to an
    * archive's EXISTING dedup clusters without re-clustering the
    * archive: a batch doc adopts the smallest cluster id among
    * archive docs it (a) shares a capped band bucket with at
    * signature-estimate ≥ `threshold`, or (b) exactly matches
    * signature-for-signature (the group-edge rule — exact dups adopt
    * even out of a diverted bucket); batch docs touching no archive
    * cluster become their own singletons. Batch-INTERNAL closure is
    * deliberately not performed here — that is the batch operator's
    * job on the next full re-cluster; this is the steady-state
    * ingest step ([[newNearDupsAgainstCorpus]]'s decision upgraded
    * from "is it a dup" to "WHICH cluster is it").
    *
    * Returns (idCol, cluster_id, adopted). Scale shape: the archive
    * is never self-joined beyond its own (already-required) cluster
    * closure; the batch→archive probe is one equi-join on (band,
    * band_key) against capped archive buckets plus one signature
    * equi-join; shuffles carry band keys + 8-long signatures. */
  def assignToClusters(newDf: DataFrame, archive: DataFrame,
      textCol: String, idCol: String, maxBucket: Int = 0,
      threshold: Double = 0.5): DataFrame = {
    // both signature frames are pinned: the archive kernel feeds its
    // band rows, the exact-signature join AND the cluster closure,
    // the batch kernel its band rows, the exact join and the final
    // id list — unpinned, each consumer re-runs the tokenize+minhash
    // kernel
    def pin(df: DataFrame): DataFrame = graft.core.CacheRegistry.track(
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sigCols = (0 until NumPerms).map(i => s"sig$i")
    val aSigs = pin(minhashSignatures(archive, textCol, idCol))
    val nSigs = pin(minhashSignatures(newDf, textCol, idCol))
    val aCl = minhashClustersFromSigs(aSigs, idCol, maxBucket)
    val aBands = bandRowsFromSigs(aSigs, idCol, NumBands)
    val nBands = bandRowsFromSigs(nSigs, idCol, NumBands)
    val sizes = aBands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__bn"))
    val eligible =
      if (maxBucket <= 0) aBands
      else aBands.join(
        sizes.where(col("__bn") <= maxBucket).select("band", "band_key"),
        Seq("band", "band_key"))
    val agree = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (a, b) => a === b), w => w))
    val cand = nBands.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col(s"x.$idCol").as(idCol), col(s"y.$idCol").as("__aid"),
        (agree.cast("double") / lit(NumPerms.toDouble)).as("__est"))
      .distinct()
      .where(col("__est") >= threshold)
      .select(col(idCol), col("__aid"))
    val exact = nSigs.join(
        aSigs.select(sigCols.map(col) :+ col(idCol).as("__aid"): _*),
        sigCols)
      .select(col(idCol), col("__aid"))
    val adopt = cand.unionByName(exact)
      .join(aCl.select(col(idCol).as("__aid"),
        col("cluster_id").as("__cl")), Seq("__aid"))
      .groupBy(col(idCol)).agg(min(col("__cl")).as("__cl"))
    nSigs.select(col(idCol))
      .join(adopt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cl"), col(idCol).cast("long")).as("cluster_id"),
        col("__cl").isNotNull.as("adopted"))
  }

  /** 45-bit combined key of the sig0..sigN signature columns
    * (polynomial fold in the [[NgramFpMod]] universe) — the single
    * long key the [[Bloom]] prefilter and any keyed signature store
    * index by. */
  def sigKey(prefix: String = ""): Column =
    (0 until NumPerms).map(i => col(s"${prefix}sig$i"))
      .foldLeft(lit(0L): Column)((acc, s) =>
        (acc * lit(31L) + s) % lit(NgramFpMod))

  /** DuckDB rendering of [[sigKey]] (same fold, same constants). */
  def sigKeySql(prefix: String = ""): String =
    (0 until NumPerms).map(i => s"${prefix}sig$i")
      .foldLeft("CAST(0 AS BIGINT)")((acc, s) =>
        s"(($acc * 31 + $s) % $NgramFpMod)")

  /** [[newAgainstCorpus]] accelerated by a portable [[Bloom]] filter
    * over the archive's signature keys: batch docs whose key the
    * bloom provably misses skip the exact anti-join entirely (no
    * false negatives ⇒ the result row set is IDENTICAL to
    * [[newAgainstCorpus]]); only the ~fpp sliver plus true dups reach
    * the join. Output adds a `bloom_new` flag marking the rows the
    * filter alone proved new. In steady state the bloom is built once
    * per archive epoch and reused across ingests — each batch then
    * costs one map pass plus a join on the sliver. */
  def newAgainstCorpusBloom(newDf: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      mBits: Int = 0, kHashes: Int = 5): DataFrame = {
    val sigCols = (0 until NumPerms).map(i => s"sig$i")
    val corpusSigs = minhashSignatures(corpus, textCol, idCol)
      .select(sigCols.map(col): _*).distinct()
      .persist() // read 3x below (size, build, anti-join); fit-time only
    // mBits <= 0 → size from the archive's actual signature
    // cardinality at ~10 bits/key (≈1% fpp with k=5), next power of
    // two. A fixed default silently saturates on a large archive —
    // every probe then answers "maybe" and the prefilter degrades to
    // a no-op that still pays its build cost.
    val m = if (mBits > 0) mBits
    else {
      val n = math.max(corpusSigs.count(), 1L)
      val want = math.min(n * 10L, 1L << 30)
      java.lang.Long.highestOneBit(math.max(want * 2 - 1, 64L)).toInt
    }
    val bits = Bloom.build(corpusSigs.select(sigKey().as("__k")), "__k",
      m, kHashes)
    // corpusSigs stays persisted under the returned plan (it feeds the
    // anti-join); the ContextCleaner reclaims it when the caller drops
    // the result — the same caller-lifetime convention as the
    // connectedComponents fixpoint.
    newAgainstCorpusBloomWith(newDf, corpusSigs, bits, textCol,
      idCol, m, kHashes)
  }

  /** As above with a PREBUILT filter + distinct corpus-signature
    * frame — the steady-state ingest shape (the archive's bloom and
    * signature table are maintained incrementally, not rebuilt per
    * batch), and what callers that also inspect the filter use to
    * avoid building it twice.
    *
    * Plan shape, deliberately: the batch signature map runs TWICE
    * (once per bloom branch) while only the ambiguous sliver enters
    * the anti-join's exchange. The single-lineage alternative (left
    * join + filter) would shuffle the ENTIRE batch against the corpus
    * signatures; recomputing a pure map is the cheaper side of that
    * trade at scale, and the sliver-only join is the whole point of
    * the prefilter. */
  def newAgainstCorpusBloomWith(newDf: DataFrame, corpusSigs: DataFrame,
      bits: Array[Long], textCol: String, idCol: String,
      mBits: Int, kHashes: Int): DataFrame = {
    val sigCols = (0 until NumPerms).map(i => s"sig$i")
    // the bloom test is computeOnce-pinned: each branch's membership
    // predicate would otherwise sink below the signature projection
    // and fold the whole sig kernel into a Filter — kernel 2x per
    // row per branch on top of the documented two-branch recompute
    // (PlanAudit r11)
    val batch = minhashSignatures(newDf, textCol, idCol)
      .withColumn("bloom_new", PlanHints.computeOnce(
        !Bloom.mightContain(bits, sigKey(), mBits, kHashes)))
    val definite = batch.where(col("bloom_new"))
    val maybe = batch.where(!col("bloom_new"))
      .join(corpusSigs, sigCols, "left_anti")
    newDf.join(definite.unionByName(maybe), Seq(idCol))
  }

  /** Benchmark decontamination (the GPT-3-style n-gram overlap
    * check): per corpus doc, how many of its distinct n-gram
    * fingerprints appear anywhere in the benchmark set — training
    * corpora must drop (or flag) docs that leak evaluation data.
    *
    * Returns (idCol, n_grams, n_contaminated, contamination_rate).
    * Scale shape: the benchmark gram set is tiny by nature (eval
    * suites are human-sized) → one distinct aggregate, broadcast; the
    * corpus side is one scan (per-row gram fold → explode → map-side
    * broadcast probe) plus one per-doc aggregate. The rate is an
    * exact rational k/m — identical on every engine, so thresholds
    * compare cleanly. Docs with fewer than n tokens carry no grams
    * and are absent. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3): DataFrame = {
    // the native one-pass kernel, NOT the composable
    // tokenHashList+ngramFingerprints pair: Catalyst's project
    // collapse inlines the hash-list into every element_at of the
    // fold and re-runs the md5 transform per window — O(tokens²)
    // hashing per doc (measured 120s → ~1s at sf0.1)
    val grams = TextHashExpressions.ngramFps(col(textCol), n)
    val bg = benchmark.select(explode(grams).as("g")).distinct()
    // the gram projection is computeOnce-pinned:
    // InferFiltersFromGenerate derives `size(__gs) > 0 AND
    // isnotnull(__gs)` under the explode and pushes it through a
    // plain projection, re-running the gram kernel in a Filter
    // (PlanAudit r11). The explicit size guard is gone for the same
    // reason — explode drops empty/null arrays by itself.
    val cg = corpus
      .select(col(idCol), PlanHints.computeOnce(grams).as("__gs"))
      .select(col(idCol), size(col("__gs")).cast("long").as("n_grams"),
        explode(col("__gs")).as("g"))
    cg.join(broadcast(bg.withColumn("__hit", lit(1))), Seq("g"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
        .as("n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_grams").cast("double")).as("contamination_rate"))
  }

  // -------------------------------------------------------------
  // Connected components / cluster-level dedup
  // -------------------------------------------------------------

  /** splitmix64 finalizer — a full-avalanche 64-bit mixer (public
    * constant set from the reference splitmix64 PRNG). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** (edge-count, hash-xor, hash-xor) signature of a canonical edge
    * set — the cheap per-round convergence probe for
    * [[connectedComponents]]. XOR is order-independent and cannot
    * overflow (the edge set is distinct, so multiplicity is 1). Two
    * independently-seeded full-avalanche lanes: a premature-
    * convergence false positive needs a simultaneous XOR collision in
    * BOTH 64-bit lanes at equal edge count (~2^-128) — strictly
    * stronger than the previous single-lane byteswap mix. */
  private def edgeSignature(e: org.apache.spark.rdd.RDD[(Long, Long)])
      : (Long, Long, Long) =
    e.treeAggregate((0L, 0L, 0L))(
      (acc, p) => (acc._1 + 1L,
        acc._2 ^ mix64(mix64(p._1) + 31L * p._2),
        acc._3 ^ mix64(mix64(p._1 ^ 0x5851f42d4c957f2dL) + 31L * p._2)),
      (a, b) => (a._1 + b._1, a._2 ^ b._2, a._3 ^ b._3))

  /** Exact duplicate-pair removal in ONE shuffle, co-located by u:
    * the full (u, v) pair is the reduce key but the partitioner hashes
    * only u, so all copies land together AND the output placement
    * matches the loop's shared partitioner. `reduceByKey` runs through
    * Spark's ExternalAppendOnlyMap on both the map side (combiner) and
    * the reduce side — unlike an in-heap HashSet of the whole
    * partition, a skewed partition SPILLS instead of OOMing.
    *
    * The output CARRIES a partitioner that declares equality with `p`
    * (placement invariant: a (u, v) row sits exactly where key u sits
    * under p, so for downstream ops keyed by u this partitioner IS
    * p) — without it, `.map(_._1)` would drop the partitioner and
    * the next [[contractRound]] would re-exchange its forward copies
    * as well as the reversed ones, adding a full shuffle per round at
    * exactly the scale the loop is designed for. The equality is pinned to
    * the one shared loop-partitioner INSTANCE (`other eq p`), never a
    * structural match. */
  private def distinctPairsByKey(r: org.apache.spark.rdd.RDD[(Long, Long)],
                                 p: org.apache.spark.Partitioner)
      : org.apache.spark.rdd.RDD[(Long, Long)] = {
    val byU = new org.apache.spark.Partitioner {
      def numPartitions: Int = p.numPartitions
      def getPartition(key: Any): Int = key match {
        case (u: Long, _) => p.getPartition(u)
        case k => p.getPartition(k)
      }
      override def equals(other: Any): Boolean = other match {
        case o: AnyRef => (o eq this) || (o eq p)
        case _ => false
      }
      override def hashCode: Int = p.hashCode
    }
    r.map((_, ())).reduceByKey(byU, (a, _) => a)
      .mapPartitions(_.map(_._1), preservesPartitioning = true)
  }

  /** Open-addressed primitive long→long parent table for
    * [[localContract]] — one entry per distinct node in a partition,
    * no boxing (a java.util.HashMap[Long, Long] would box every key
    * and value; at ~1M nodes/partition that is GC pressure the loop's
    * own combiner maps never pay). Power-of-two capacity, linear
    * probing, Long.MinValue as the empty sentinel with a dedicated
    * scalar slot so the sentinel VALUE is still a legal key. */
  private final class LongLongMap(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(
      math.max(16, initialCapacity * 2) - 1) << 1
    private var keys = Array.fill(cap)(Long.MinValue)
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasMin = false
    private var minVal = 0L
    private def idx(k: Long): Int = {
      var i = (mix64(k) & (cap - 1)).toInt
      while (keys(i) != Long.MinValue && keys(i) != k)
        i = (i + 1) & (cap - 1)
      i
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill(cap)(Long.MinValue)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Long.MinValue) { val j = idx(ok(i)); keys(j) = ok(i); vals(j) = ov(i) }
        i += 1
      }
    }
    /** parent(k), defaulting to k itself (absent = self-root). */
    def getOrSelf(k: Long): Long =
      if (k == Long.MinValue) { if (hasMin) minVal else k }
      else { val i = idx(k); if (keys(i) == Long.MinValue) k else vals(i) }
    def put(k: Long, v: Long): Unit =
      if (k == Long.MinValue) { hasMin = true; minVal = v }
      else {
        val i = idx(k)
        if (keys(i) == Long.MinValue) {
          keys(i) = k; vals(i) = v; n += 1
          if (n * 3 > cap * 2) grow()
        } else vals(i) = v
      }
    /** Iterate all present entries' KEYS (values may be mutated by the
      * caller during iteration — open addressing never relocates an
      * existing key on value update). */
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) != Long.MinValue) f(keys(i)); i += 1
      }
      if (hasMin) f(Long.MinValue)
    }
    /** LAZY iterator over entries whose value differs from their key
      * (r15, ADVICE: the previous Vector-of-boxed-tuples emission
      * buffered a whole partition's output). Caller must have fully
      * value-compressed the table first and must not insert while the
      * iterator is live (value updates are safe — slots never move). */
    def nonSelfIterator: Iterator[(Long, Long)] = {
      val slots = Iterator.range(0, cap).collect {
        case i if keys(i) != Long.MinValue && vals(i) != keys(i) =>
          (keys(i), vals(i))
      }
      if (hasMin && minVal != Long.MinValue)
        slots ++ Iterator((Long.MinValue, minVal))
      else slots
    }
  }

  /** Partition-local union-find contraction — round 0 of
    * [[connectedComponents]] (r14 optimization round; guide §2.1/§2.4
    * remove shuffles and rounds outright): each partition folds its
    * edges through a union-by-min union-find (path-compressed) and
    * emits ONE (node, local-root) star edge per non-root node, in one
    * NARROW mapPartitions. Effects: every within-partition chain
    * collapses before the first keyed round (round COUNT is unchanged
    * on the τ=2 entity fixture — its chains are cross-partition; the
    * measured wins are the removed input-distinct shuffle and the
    * cheaper round-0 materialization), and the output is PER-PARTITION
    * pair-distinct and canonically oriented (root = the local MINIMUM,
    * so node > root always) by construction, making the non-distinct
    * callers' input-dedup SHUFFLE unnecessary (duplicate edges that
    * land in different partitions emit the same (node, local-root)
    * pair once per partition; the first keyed round dedups those).
    *
    * Components are preserved EXACTLY: a union only ever joins the
    * two endpoints of a real input edge, so each local tree is a
    * connected subset of the input graph, and every input edge (u, v)
    * is represented in the output by the path u → root ← v. Every
    * node appearing in an input edge appears in the output (each
    * local tree has ≥ 2 nodes — map entries only exist for edge
    * endpoints — so its root survives as some child's target).
    *
    * Memory: the parent table holds one primitive entry per DISTINCT
    * node in the partition — the same order as the per-round
    * reduceByKey combiner map of [[distinctPairsByKey]]. */
  private def localContract(e: org.apache.spark.rdd.RDD[(Long, Long)])
      : org.apache.spark.rdd.RDD[(Long, Long)] =
    e.mapPartitions { it =>
      val parent = new LongLongMap(1 << 12)
      def find(x: Long): Long = {
        var r = x
        var pr = parent.getOrSelf(r)
        while (pr != r) { r = pr; pr = parent.getOrSelf(r) }
        var c = x
        while (c != r) { val nx = parent.getOrSelf(c); parent.put(c, r); c = nx }
        r
      }
      it.foreach { case (u, v) =>
        val ru = find(u); val rv = find(v)
        if (ru != rv) {
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
        // ensure both endpoints exist as entries so emission sees them
        // (find() never inserts); self-rooted entries are free
        if (parent.getOrSelf(u) == u) parent.put(u, u)
        if (parent.getOrSelf(v) == v) parent.put(v, v)
      }
      // full value compression first (value-only updates — slots never
      // move), then emit LAZILY straight off the table (r15, ADVICE:
      // the Vector-of-boxed-tuples emission buffered the whole
      // partition's output and defeated pipelining)
      parent.foreachKey { x => find(x); () }
      parent.nonSelfIterator
    }

  /** One union-find contraction round (r15 optimization round, guide
    * §2.1/§2.4): symmetrize so every node's FULL current neighborhood
    * is co-located at its hash partition, fold each partition through
    * the same union-find as [[localContract]], emit (node, local-root)
    * stars, exact-dedup — 2 keyed shuffles per round: when the input
    * already rides the loop partitioner (every round ≥ 2) only the
    * REVERSED copies move — a partitioner-aware union keeps the
    * forward copies in place.
    *
    * Correctness: a union only ever joins the two endpoints of a real
    * current edge, so connectivity is preserved exactly; output is
    * canonically oriented (root = local min < node) and per-partition
    * distinct, with the keyed dedup making it globally exact for the
    * convergence signature. Per round it performs a SUPERSET of the
    * Kiveris et al. star steps' unions at each node's home partition
    * (large-star: every neighbor joins min(N(u) ∪ u); small-star:
    * smaller neighbors join the min — both are unions among
    * {u} ∪ N(u), all co-located here) plus any transitive chaining
    * the partition happens to hold.
    * Fixpoint: a star forest reproduces itself exactly (the root's
    * partition sees all children and re-emits them; a child's
    * partition sees only its root), and any chain or multi-parent
    * node strictly contracts (its home partition unions the whole
    * neighborhood to one root), so signature equality detects exactly
    * the star-forest fixpoint. */
  private def contractRound(e: org.apache.spark.rdd.RDD[(Long, Long)],
                            p: org.apache.spark.Partitioner)
      : org.apache.spark.rdd.RDD[(Long, Long)] = {
    val sym = e.partitioner match {
      case Some(ep) if ep == p =>
        // forward copies are already at part(u); shuffle only the
        // reversed copies, partitioned by the SAME instance so the
        // union is partitioner-aware (one co-located partition per
        // index, no re-exchange of the forward half)
        e.union(e.map { case (u, v) => (v, u) }.partitionBy(ep))
      case _ =>
        e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }.partitionBy(p)
    }
    distinctPairsByKey(localContract(sym), p)
  }

  /** Connected components of the undirected graph given as an edge
    * list, via union-find contraction rounds — the transitive-closure
    * step cluster-level dedup needs: near-dup pairs chain (A~B, B~C
    * with A,C never colliding) and the whole chain must collapse into
    * ONE cluster, which per-pair or per-signature grouping cannot
    * express.
    *
    * Scale shape: round 0 is [[localContract]], a narrow
    * partition-local union-find over the canonical input; every later
    * round is one [[contractRound]] (symmetrize to each node's home
    * partition, partition-local union-find, keyed exact dedup — two
    * shuffles of (long, long) pairs). Each round performs every union
    * a large-star and a small-star step would (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014), so
    * the edge set contracts toward the star forest in O(log n) rounds
    * even on path graphs, where plain min-label propagation needs
    * O(diameter).
    *
    * The LOOP runs on RDDs, not DataFrames, deliberately (the GraphX
    * / GraphFrames precedent): a fixed iterative kernel re-planned by
    * Catalyst every round pays optimizer + codegen time per round at
    * ANY data size, and a lineage cut discards the shuffle layout so
    * every round re-exchanges. The RDD form plans once per round in
    * microseconds, and one shared HashPartitioner keeps each round's
    * output where the next round's forward copies must sit. Per-round
    * state is persisted (memory-and-disk) and the previous round
    * unpersisted; the convergence probe — an (edge-count, hash-xor)
    * treeAggregate — is the one action per round and also
    * materializes it.
    *
    * Returns (node, component) for every node appearing in an edge,
    * with component = the minimum node id of its component. Node ids
    * must be integral (cast to long). Isolated nodes never enter the
    * edge list and are absent — callers re-add singletons (see
    * [[minhashClusters]]). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // fail fast on non-integral ids: cast("long") of a string/uuid id
    // yields null, greatest/least propagate it, and the u =!= v filter
    // would silently drop EVERY edge — dedup would "succeed" removing
    // nothing. Hash such ids to long first (e.g. xxhash64).
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types._
      val ok = edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"connectedComponents needs integral node ids; " +
        s"'$c' is ${edges.schema(c).dataType}")
    }
    // canonicalize once: the caller's edge pipeline (e.g. the whole
    // LSH candidate generation) runs exactly once, into a persisted
    // pair RDD the loop iterates on. Round 0 is [[localContract]]
    // (r14 optimization round): a NARROW partition-local union-find
    // that collapses within-partition chains before the first keyed
    // round AND emits a per-partition pair-distinct canonical edge
    // set — so the input-dedup shuffle the non-distinct callers used
    // to pay here is gone entirely. (The r14 `edgesDistinct` hint was
    // RETIRED in r15: the contraction dedups any input implicitly, so
    // the flag changed nothing — a dead parameter, per the r14
    // verdict. No caller may re-add a .distinct() above this input;
    // OpsSpec pins the duplicate-edge behavior.)
    val canon0 = edges
      .select(greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u") =!= col("v"))
    val canon = localContract(canon0.as[(Long, Long)].rdd)
    val p = new org.apache.spark.HashPartitioner(
      math.max(canon.getNumPartitions, 1))
    var e = canon.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var sig = edgeSignature(e) // materializes the canonical input
    var done = sig._1 == 0L
    var it = 0
    var toRelease = List.empty[org.apache.spark.rdd.RDD[_]]
    while (!done && it < maxIter) {
      val next = contractRound(e, p)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nextSig = edgeSignature(next) // materializes this round
      // the previous round's edge set is now dead (released lazily,
      // after `next` is safely materialized; the intra-round sym
      // frame is never persisted — it flows straight through)
      toRelease.foreach(_.unpersist(blocking = false))
      toRelease = List(e)
      done = nextSig == sig
      sig = nextSig
      e = next
      it += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    // the penultimate round's cache is dead now that the fixpoint is
    // materialized (edgeSignature ran on it) — release it here rather
    // than leaving it to ContextCleaner GC. The fixpoint itself stays
    // persisted under the returned DataFrame; once the caller drops
    // that DataFrame the ContextCleaner reclaims it — the steady-state
    // cache debt is bounded by ONE round's edge set, not the loop.
    toRelease.foreach(_.unpersist(blocking = false))
    // at the joint fixpoint the graph is a forest of stars rooted at
    // each component's min node: the edges ARE the (node → component)
    // map, plus one self-row per root
    val fix = e.toDF("u", "v")
    fix.select(col("u").as("node"), col("v").as("component"))
      .union(fix.select(col("v").as("node"), col("v").as("component"))
        .distinct())
  }

  /** doc → cluster-representative map over the MinHash near-duplicate
    * graph: the transitive closure that pair- and group-level dedup
    * miss — the standard cluster-level MinHash dedup for web-scale
    * corpora (cf. the C4/RefinedWeb pipelines).
    *
    * Edge set = capped candidate pairs at `minJaccard`+ (skew-safe,
    * see [[minhashCandidates]]) UNION exact-signature group edges
    * (doc → per-signature min id; one hash aggregate + join-back —
    * linear), so template families diverted from the pair join still
    * collapse. Components via [[connectedComponents]]; docs touching
    * no edge are their own singleton cluster; null-text docs are
    * dropped, like every dedup path here (blank docs share the
    * empty-token signature and collapse into one cluster).
    *
    * Returns (idCol, cluster_id). Keep the rows where
    * `idCol == cluster_id` (plus singletons, already such rows) to
    * emit the deduped corpus. */
  def minhashClusters(df: DataFrame, textCol: String, idCol: String,
                      maxBucket: Int, numBands: Int = NumBands,
                      minJaccard: Double = 0.5,
                      maxIter: Int = 50): DataFrame =
    minhashClustersFromSigs(minhashSignatures(df, textCol, idCol),
      idCol, maxBucket, numBands, minJaccard, maxIter)

  /** [[minhashClusters]] over a PRE-COMPUTED signature frame — lets a
    * caller that already holds (and has persisted) the signatures
    * avoid re-running the tokenize+minhash kernel for the cluster
    * closure (r14: [[assignToClusters]] was paying the archive kernel
    * once for its own band/exact joins and AGAIN inside this
    * closure). Persists the input only if the caller has not
    * (persist() returns the same object, so unpersisting a frame the
    * caller cached would silently evict THEIR cache) and releases
    * exactly what it persisted. */
  def minhashClustersFromSigs(sigsIn: DataFrame, idCol: String,
                              maxBucket: Int, numBands: Int = NumBands,
                              minJaccard: Double = 0.5,
                              maxIter: Int = 50): DataFrame = {
    // one tokenize+hash pass, cached across the three consumers
    // (candidate pairs, group edges, final id list); the iterative CC
    // inside runs actions eagerly, so the cache pays off immediately
    // and is dropped before returning the (lazy) result
    val owns = sigsIn.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val sigs = if (owns) sigsIn.persist() else sigsIn
    val sigNames = (0 until NumPerms).map(i => s"sig$i")
    val candEdges = minhashCandidatesAndOversizeFromSigs(
        sigs, idCol, maxBucket, numBands)._1
      .where(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    val groupMins = sigs.groupBy(sigNames.map(col): _*)
      .agg(min(col(idCol)).as("__keep"))
    val groupEdges = sigs.join(groupMins, sigNames)
      .where(col(idCol) =!= col("__keep"))
      .select(col(idCol).as("id_a"), col("__keep").as("id_b"))
    val cc = connectedComponents(candEdges.union(groupEdges), "id_a", "id_b",
      maxIter)
    // ids snapshot so unpersist cannot force a later full recompute
    val ids = sigs.select(col(idCol)).localCheckpoint()
    if (owns) sigs.unpersist()
    ids.join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol).cast("long")).as("cluster_id"))
  }

  /** Modulus for n-gram fingerprints: 2⁴⁵ keeps every intermediate of
    * `(acc·31 + h) mod M` under 2⁵¹ (DuckDB int64 arithmetic throws on
    * overflow) while leaving collision odds over a billion-gram corpus
    * at ~10⁻⁴ per pair of distinct grams — and any collision hits both
    * engines identically (same formula), so parity is unaffected. */
  val NgramFpMod: Long = 1L << 45

  /** 45-bit polynomial fingerprints of word n-grams:
    * gram = fold (acc·31 + tokenHash(w) mod M) mod M over the window.
    * The scale point: the duplicated-n-gram pipeline shuffles its
    * grams TWICE (doc-frequency aggregate + join back), and an 8-byte
    * fingerprint shuffles ~6× less than the raw trigram string it
    * replaces — string grams made the shuffle the bottleneck. */
  /** Per-token 45-bit hashes (tokenHash mod M) — the composable-spec
    * building block for [[ngramFingerprints]]. Materialize this as a
    * real column BEFORE folding n-grams over it: referenced as a
    * subexpression inside the n-gram lambda, Catalyst re-evaluates
    * the whole md5 array for every (gram, offset) pair — O(tokens²)
    * hashing per document (measured 10× slower than even the raw
    * string-gram form at sf0.1). */
  def tokenHashList(text: Column): Column =
    transform(TextAnalysis.tokens(text),
      t => TextAnalysis.tokenHash(t) % lit(NgramFpMod))

  /** Fingerprints over a PRE-MATERIALIZED [[tokenHashList]] column:
    * gram = fold (acc·31 + h) mod M across each n-window. This is the
    * executable spec for the native one-pass [[NgramFpsExpr]] kernel
    * (which also applies the distinct). */
  def ngramFingerprints(hashList: Column, n: Int): Column =
    when(size(hashList) < n, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(1), size(hashList) - lit(n - 1)),
        i => (1 until n).foldLeft(element_at(hashList, i))((acc, k) =>
          (acc * lit(31L) + element_at(hashList, i + lit(k))) % lit(NgramFpMod))))

  /** Per-document duplicated-n-gram rate (the Lee et al. 2022
    * "Deduplicating Training Data" cross-document signal): the share
    * of a doc's DISTINCT word n-grams that occur in ≥ 2 documents.
    * Plan: explode distinct n-gram FINGERPRINTS ([[ngramFingerprints]]
    * — fixed-width longs, not strings; one scan), ONE hash aggregate
    * for per-gram document frequency (map-side partial), join back on
    * the fingerprint and re-aggregate per doc — two shuffles, both on
    * fingerprint / id keys, no quadratic stage anywhere. Docs with
    * fewer than `n` tokens have no n-grams and are dropped. The
    * fingerprint stage is the native one-pass [[NgramFpsExpr]] kernel
    * (tokenize → hash → window-fold → distinct in one loop). */
  def dupNgramRate(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    // persisted narrow (id, fingerprint) frame (r14 optimization
    // round): the explode feeds the df-count aggregate AND the
    // join-back, and the two consumers are different subtrees
    // (partial-agg vs raw rows below their exchanges), so without
    // the pin the tokenize+md5 kernel — the whole cost of the scan —
    // runs twice. Unlike noveltyRate the join-back itself is
    // irreducible: which docs hold a duplicated gram is per-pair
    // information the df aggregate does not carry.
    val grams = graft.core.CacheRegistry.track(
      df.select(col(idCol),
        explode(TextHashExpressions.ngramFps(col(textCol), n)).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val docFreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(docFreq, "g")
      .groupBy(col(idCol))
      .agg((sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("dup_rate"),
        count(lit(1)).as("n_grams"))
  }

  /** Per-document n-gram NOVELTY rate — the share of a doc's DISTINCT
    * word n-grams whose corpus-wide FIRST holder (minimum doc id, the
    * ingest-order stand-in) is this doc. The doc-level dual of
    * [[dupNgramRate]]'s df ≥ 2 share: a doc whose grams were all
    * introduced by earlier docs contributes no new content
    * (boilerplate / memorization-risk signal), while rate 1.0 marks
    * wholly original text. Exact duplicates of an earlier doc score
    * exactly 0.
    *
    * 100 TB shape (rewritten in the r14 optimization round): ONE
    * fingerprint-kernel scan — the exploded (id, fingerprint) frame
    * (two longs per gram; text never shuffles) is persisted
    * ([[graft.core.CacheRegistry]]-tracked) and read by both
    * aggregates — and NO gram-level join-back: since fingerprints are
    * distinct per doc, a doc's novel-gram count is exactly how many
    * per-gram minima equal its id, i.e. a re-aggregation of the
    * min-id table by holder. The previous form re-ran the kernel for
    * a second scan and shuffled every gram again through a
    * grams ⋈ first-holder join for information the aggregate already
    * carried; the remaining join is doc-level. Counts are the same
    * integers, so the rate doubles are bit-identical. Docs with fewer
    * than `n` tokens have no grams and are dropped. */
  def noveltyRate(df: DataFrame, textCol: String, idCol: String,
                  n: Int = 3): DataFrame = {
    val grams = graft.core.CacheRegistry.track(
      df.select(col(idCol),
        explode(TextHashExpressions.ngramFps(col(textCol), n)).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val novel = grams.groupBy("g").agg(min(col(idCol)).as("first_id"))
      .groupBy("first_id").agg(count(lit(1)).as("__novel"))
    grams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
      .join(novel, col(idCol) === col("first_id"), "left")
      .select(col(idCol),
        (coalesce(col("__novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novel_rate"),
        col("n_grams"))
  }

  /** Fingerprints of NON-OVERLAPPING `w`-token chunks over a
    * pre-materialized [[tokenHashList]]: chunk c (0-based) folds
    * hashes [c·w+1 .. c·w+w] with the same (acc·31 + h) mod M rule as
    * [[ngramFingerprints]]. A trailing partial chunk (< w tokens) gets
    * no fingerprint — span dedup never removes it. */
  def chunkFingerprints(hashList: Column, w: Int): Column =
    when(size(hashList) < w, array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(0), floor(size(hashList) / lit(w)).cast("int") - 1),
        c => (2 to w).foldLeft(element_at(hashList, (c * w + 1).cast("int")))(
          (acc, k) => (acc * lit(31L) +
            element_at(hashList, (c * w + lit(k)).cast("int"))) %
            lit(NgramFpMod))))

  /** Cross-document SPAN dedup with the keep-first policy (Lee et al.
    * 2022 exact-substring dedup at chunk granularity / C4's
    * remove-all-but-one): the corpus is cut into non-overlapping
    * `w`-token spans, and a span whose fingerprint occurs in ≥ 2
    * documents is REMOVED from every document except the lowest-id
    * holder — a rewrite, not just a signal. Returns
    * (id, text_clean, n_tokens, n_removed, modified).
    *
    * Plan, in 100 TB shape: chunk fingerprints per doc (one scan, the
    * native n-gram kernel's fold) → posexplode of 8-byte longs (the
    * TEXT never shuffles — only fingerprints and indices move) → two
    * hash aggregates for per-fingerprint (keeper, distinct-doc count)
    * → join back on the fingerprint → per-doc removed-chunk-index set
    * (small ints) → ONE id join onto the original rows → per-row
    * codegen'd rebuild (`filter` by position, `array_join`). Both
    * shuffles key on fixed-width longs; the rewrite is map-side. */
  def dedupSpansKeepFirst(df: DataFrame, textCol: String, idCol: String,
                          w: Int): DataFrame = {
    require(w >= 2, s"span width $w too small")
    val chunks = df
      .select(col(idCol), tokenHashList(col(textCol)).as("__hl"))
      .select(col(idCol),
        posexplode(chunkFingerprints(col("__hl"), w)).as(Seq("cidx", "fp")))
    // (fp, doc) pairs first (a doc can repeat a span internally), then
    // per-fingerprint stats — two plain hash aggs, no distinct-expand
    val stats = chunks.groupBy(col("fp"), col(idCol)).agg(count(lit(1)).as("__o"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("ndocs"))
    val removed = chunks.join(stats, "fp")
      .where(col("ndocs") >= 2 && col(idCol) =!= col("keeper"))
      .groupBy(col(idCol))
      .agg(collect_set(col("cidx")).as("__rm"))
    val ws = TextAnalysis.tokens(col(textCol))
    val rm = coalesce(col("__rm"), array().cast("array<int>"))
    df.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(ws, (_, i) =>
          !array_contains(rm, floor(i / lit(w)).cast("int"))), " ")
          .as("text_clean"),
        size(ws).cast("long").as("n_tokens"),
        (size(rm) * w).cast("long").as("n_removed"),
        (size(rm) > 0).as("modified"))
  }

  /** Occurrence-key stride for [[dedupSubstringsKeepFirst]]: okey =
    * id·2³¹ + window-pos packs a (doc, position) pair into one int64
    * for the min-aggregate keeper pick. Ids must stay < 2³¹ (and docs
    * < 2³¹ tokens) for the packing to order lexicographically. */
  val SubstrPosMod: Long = 1L << 31

  /** Offset-free EXACT-substring dedup with the keep-first policy
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", §4 ExactSubstr — at fingerprint granularity): any
    * `k`-token run that occurs ≥ 2 times in the corpus AT ANY TOKEN
    * OFFSET (across documents or within one) is removed from every
    * occurrence except the first in (id, position) order. This is the
    * operator [[dedupSpansKeepFirst]] approximates: fixed
    * non-overlapping chunks miss any repeat not aligned to a chunk
    * boundary, while overlapping window fingerprints match at every
    * offset — a repeated ≥ k-token span exists iff one of its k-token
    * windows repeats. Longer shared spans are handled for free: each
    * covered token position is removed once however many windows
    * cover it. Returns (id, text_clean, n_tokens, n_removed,
    * modified); `n_removed` counts covered token POSITIONS (merged
    * intervals), not windows.
    *
    * Plan, in 100 TB shape: token-hash list per doc (one scan) →
    * posexplode of (window-pos, 45-bit fp) — 16 bytes per token
    * position; the TEXT never shuffles — → ONE hash aggregate per fp
    * (occurrence count + min okey keeper; map-side partial) → join
    * back on the fp → per-doc sorted duplicate-window-start set
    * (small ints) → ONE id join onto the original rows → per-row
    * codegen'd coverage rebuild. Both shuffles key on fixed-width
    * longs; no pair enumeration anywhere, so a million-fold repeated
    * span costs its occurrence count, never its pair count. (The
    * reference formulation is a disk-based suffix array — also
    * O(corpus tokens); here the same linear mass rides Spark's
    * shuffle machinery. A `w`-winnowing anchor variant would cut the
    * exploded mass by w at the cost of only catching ≥ k+w−1-token
    * repeats; at the default k this exact form is the documented
    * path.) Fingerprint collisions (2⁻⁴⁵-scale) hit both engines
    * identically — the [[NgramFpMod]] contract. */
  def dedupSubstringsKeepFirst(df: DataFrame, textCol: String,
                               idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"substring width $k too small")
    val wins = df
      .select(col(idCol), tokenHashList(col(textCol)).as("__hl"))
      .select(col(idCol),
        posexplode(ngramFingerprints(col("__hl"), k)).as(Seq("wpos", "fp")))
    val occ = wins.select(col(idCol), col("wpos"), col("fp"),
      (col(idCol).cast("long") * lit(SubstrPosMod) + col("wpos"))
        .as("okey"))
    val stats = occ.groupBy("fp")
      .agg(count(lit(1)).as("nocc"), min(col("okey")).as("keeper"))
    val dups = occ.join(stats, "fp")
      .where(col("nocc") >= 2 && col("okey") =!= col("keeper"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("wpos"))).as("__ds"))
    val ds = coalesce(col("__ds"), array().cast("array<int>"))
    // fused one-pass rebuild: tokenize + two-pointer coverage walk
    // over the sorted start set + kept-text join in ONE codegen'd
    // kernel — O(tokens + windows) per row (the HOF exists-scan this
    // replaces was O(tokens · windows): quadratic on a long doc that
    // is mostly duplicate). Pinned bit-identical to the composable
    // exists/filter spec in DedupSubstrSpec.
    df.join(dups, Seq(idCol), "left")
      .withColumn("__rb",
        TextHashExpressions.substrRebuild(col(textCol), ds, k))
      .select(col(idCol),
        col("__rb.text_clean").as("text_clean"),
        col("__rb.n_tokens").as("n_tokens"),
        col("__rb.n_removed").as("n_removed"),
        (size(ds) > 0).as("modified"))
  }

  /** Winnowing anchor selection (Schleimer et al. 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting"): over a doc's
    * k-token window fingerprints f[1..m], each w-length run
    * contributes its MINIMUM fingerprint, and the doc's anchor set is
    * the distinct selected values — m/w of the full window mass in
    * expectation, with the winnowing guarantee intact: any shared
    * token run of length ≥ k+w−1 shares at least one anchor. Ties
    * select the smallest VALUE (we key on fingerprints, not
    * positions, so the leftmost/rightmost position rule of the paper
    * is immaterial). A doc with 0 < m < w windows contributes one
    * anchor (the global min); m = 0 contributes none.
    *
    * This is the documented scale path of the substring-dedup family:
    * [[dedupSubstringsKeepFirst]] shuffles EVERY window fingerprint
    * (16 B/token), exact but w× heavier; anchors detect the same
    * ≥ k+w−1 shared runs at 1/w the shuffle mass — run the anchor
    * query as the cheap corpus-wide detector, then the exact rewrite
    * on the flagged cohort. Returns (idCol, keep..., n_windows,
    * anchors array<long>). */
  def winnowAnchors(df: DataFrame, textCol: String, idCol: String,
                    k: Int, w: Int,
                    keep: Seq[String] = Nil): DataFrame = {
    require(k >= 2 && w >= 1, s"bad (k=$k, w=$w)")
    // ONE fused kernel pass (tokenize → window fps → deque sliding
    // min). The composable array_min/slice spec lives in
    // [[winnowAnchorsSpec]], pinned equivalent in WinnowSpec — under
    // CollapseProject it re-inlines the fps array per slice element
    // (O(m²·k) md5 calls), so it is the SPEC, never the plan.
    df.select((col(idCol) +: keep.map(col)) :+
      greatest(size(TextAnalysis.tokens(col(textCol))) - lit(k - 1),
        lit(0)).cast("long").as("n_windows") :+
      TextHashExpressions.winnowAnchors(col(textCol), k, w)
        .as("anchors"): _*)
  }

  /** Executable spec of [[winnowAnchors]]' selection rule in pure
    * Column HOFs over a pre-materialized fingerprint ARRAY (test use
    * only — see the kernel note above). */
  private[ops] def winnowAnchorsSpec(fps: Column, w: Int): Column = {
    val m = size(fps)
    when(m === 0, array().cast("array<long>"))
      .when(m < w, array(array_min(fps)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), m - lit(w - 1)),
        i => array_min(slice(fps, i, lit(w))))))
  }

  /** FIT side of the incremental substring-boilerplate pair:
    * fingerprints of `k`-token windows occurring in MORE than `maxDf`
    * distinct documents — template runs (navigation chrome, license
    * headers, boilerplate sentences) rather than one-off copies. The
    * result is model-sized by the same argument as
    * [[TextAnalysis.frequentLineFps]]: a window shared by > maxDf
    * documents is boilerplate, and boilerplate mass is a vocabulary,
    * not a corpus (it grows with template count, not document count).
    * One fingerprint-kernel scan + ONE (fp → distinct-doc) aggregate;
    * the window text itself never shuffles or collects. */
  def frequentWindowFps(df: DataFrame, textCol: String, idCol: String,
                        k: Int, maxDf: Int): Array[Long] = {
    require(k >= 2 && maxDf >= 1, s"bad ($k, $maxDf)")
    df.select(col(idCol).as("__id"),
        tokenHashList(col(textCol)).as("__hl"))
      .select(col("__id"),
        explode(array_distinct(ngramFingerprints(col("__hl"), k)))
          .as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf)
      .select("fp").collect().map(_.getLong(0)).sorted
  }

  /** APPLY side: remove every token covered by a FITTED boilerplate
    * window (all occurrences — boilerplate removal, not keep-first) —
    * a pure per-row map (token-hash list, window fold, membership
    * scan against a plan-constant sorted array, coverage rebuild), so
    * it composes with any curation pipeline (the substring sibling of
    * [[TextAnalysis.lineDedupApply]]). Same output columns as
    * [[dedupSubstringsKeepFirst]]. */
  def dedupSubstringsApply(df: DataFrame, textCol: String, idCol: String,
                           k: Int, frequentFps: Array[Long]): DataFrame = {
    require(k >= 2, s"substring width $k too small")
    val fps = lit(frequentFps)
    val hl = tokenHashList(col(textCol))
    val wf = ngramFingerprints(col("__hl"), k)
    val ds = filter(sequence(lit(0), size(col("__wf")) - 1),
      s => array_contains(fps, element_at(col("__wf"), s + 1)))
    // same fused two-pointer rebuild as [[dedupSubstringsKeepFirst]];
    // the `sequence`-filtered start set is ascending by construction
    df.withColumn("__hl", hl)
      .withColumn("__wf", wf)
      .withColumn("__ds", when(size(col("__wf")) > 0, ds)
        .otherwise(array().cast("array<int>")))
      .withColumn("__rb",
        TextHashExpressions.substrRebuild(col(textCol), col("__ds"), k))
      .select(col(idCol),
        col("__rb.text_clean").as("text_clean"),
        col("__rb.n_tokens").as("n_tokens"),
        col("__rb.n_removed").as("n_removed"),
        (size(col("__ds")) > 0).as("modified"))
  }

  /** 16-bit SimHash from token-hash bit sums over the distinct token
    * set: bit b set iff Σ_tokens (±1 by bit b of h) > 0. Native
    * one-pass kernel ([[Simhash16Expr]]); no explode, no shuffle.
    * [[simhash16Spec]] is the composable form it is pinned to. */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // isNotNull BEFORE the kernel (a sentinel filter on the output
    // would be pushed below the projection and evaluate the kernel
    // twice per row); non-null text always yields a value in [0, 2^16)
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        TextHashExpressions.simhash16(
          PlanHints.knownNotNull(col(textCol))).as("simhash"))

  /** 60-bit SimHash rows (id, simhash) — [[simhash16]]'s construction
    * at the width band-blocked hamming dedup uses ([[hammingPairs64]]).
    * One codegen'd pass per doc. CONTRACT: null-text rows are
    * DROPPED (no signature exists for them), so the output has one
    * row per NON-NULL input text, not per input row. */
  def simhash60(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // null-filter + KnownNotNull as in [[simhash16]], and additionally
    // against join-key IsNotNull inference: band keys derived from a
    // NULLABLE simhash make InferFiltersFromConstraints push
    // isnotnull(simhash60(text)) below this projection — kernel 2x
    // per row (PlanAudit r11)
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        TextHashExpressions.simhash60(
          PlanHints.knownNotNull(col(textCol))).as("simhash"))

  /** Hamming-ball near-dup pairs over a ≤64-bit signature (60-bit
    * SimHash text dedup, 64-bit aHash/pHash image dedup): band the
    * signature into 4×16-bit exact-match keys — by pigeonhole any
    * pair within hamming distance 3 agrees on at least one whole
    * band — and verify candidates with `bit_count(xor) ≤ tau`. The
    * candidate join runs on (band, key) like the MinHash band join;
    * `maxBucket > 0` diverts template-family bands the same way
    * ([[minhashCandidates]]'s skew bound), so pair cost stays
    * O(#buckets · cap²) at any corpus size. Only (id, signature)
    * rows shuffle — 16 bytes/doc. Returns (id_a, id_b, hamming),
    * id_a < id_b, hamming ≤ tau. */
  def hammingPairs64(df: DataFrame, hashCol: String, idCol: String,
                     tau: Int, maxBucket: Int = 0): DataFrame = {
    require(tau >= 0 && tau <= 3,
      s"4x16-bit banding is pigeonhole-complete only for tau <= 3 (got $tau)")
    val bandRows = df.select(col(idCol), col(hashCol),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), b * 16)
          .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col(hashCol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val eligible =
      if (maxBucket <= 0) bandRows
      else {
        val sizes = bandRows.groupBy("band", "key")
          .agg(count(lit(1)).as("__bn"))
        bandRows.join(
          sizes.where(col("__bn") <= maxBucket).select("band", "key"),
          Seq("band", "key"))
      }
    eligible.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= tau)
  }

  /** Composable 16-aggregate form of [[simhash16]] (executable spec). */
  def simhash16Spec(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hs = transform(array_distinct(TextAnalysis.tokens(col(textCol))),
      t => TextAnalysis.tokenHash(t))
    val sim = (0 until 16).map { b =>
      val bs = aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, b) % 2 === 1, 1L).otherwise(-1L))
      when(bs > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), hs.as("hs"))
      .where(size(col("hs")) > 0)
      .select(col(idCol), sim.as("simhash"))
  }

  /** Word n-gram array (adjacent tokens joined with '_'). Spark's
    * sequence(1, 0) counts DOWN, so short texts need an explicit empty
    * guard. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = TextAnalysis.tokens(text)
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - lit(n - 1)),
        i => concat_ws("_", (0 until n).map(k => element_at(ws, i + lit(k))): _*)))
  }

  /** Jaccard similarity of distinct word n-gram sets. */
  def ngramJaccard(textA: Column, textB: Column, n: Int): Column = {
    val (ga, gb) = (array_distinct(wordNgrams(textA, n)),
      array_distinct(wordNgrams(textB, n)))
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  /** Symmetric containment max(C(A→B), C(B→A)) = |∩| / min(|g(A)|,
    * |g(B)|) — "the smaller doc is this contained in the larger". */
  def ngramContainmentMax(textA: Column, textB: Column, n: Int): Column = {
    val (ga, gb) = (array_distinct(wordNgrams(textA, n)),
      array_distinct(wordNgrams(textB, n)))
    size(array_intersect(ga, gb)).cast("double") /
      least(size(ga), size(gb)).cast("double")
  }

  /** Candidate pairs for CONTAINMENT (excerpt/superset) detection by
    * rare-n-gram blocking: docs sharing ≥ `minShared` n-gram
    * fingerprints of document frequency 2..`maxDf`. MinHash-LSH
    * cannot surface excerpt pairs (an excerpt of a much longer doc
    * has LOW Jaccard, so no band collides — measured 0 asymmetric
    * pairs on the test corpus); OVERLAPPING n-gram fingerprints match
    * at any token offset, and restricting the blocking join to
    * RARE grams bounds it: each gram with df ≤ m yields ≤ m²/2 pairs,
    * so the join is Σ_rare df² ≤ maxDf·Σ df — linear in corpus gram
    * mass with a constant-factor cap, never all-pairs (common-phrase
    * grams with df > maxDf are exactly the ones that would go
    * quadratic, and they carry no pair-specific signal). The
    * candidates then feed [[ngramContainmentMax]] for the exact
    * re-score, candidates-only like every verify stage here. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, maxDf: Int = 20,
                       minShared: Int = 2,
                       cache: DataFrame => DataFrame = identity): DataFrame = {
    require(maxDf >= 2 && minShared >= 1, s"bad ($maxDf, $minShared)")
    // `cache` wraps the gram explode, which the df-count aggregate and
    // BOTH sides of the rare-gram self-join consume — uncached the
    // n-gram kernel re-tokenizes the corpus once per consumer (pass a
    // persist hook for multi-use batch queries; identity for streams)
    val grams = cache(df.select(col(idCol),
      explode(TextHashExpressions.ngramFps(col(textCol), n)).as("g")))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val rare = grams.join(
      dfreq.where(col("__df") >= 2 && col("__df") <= maxDf), "g")
    rare.select(col("g"), col(idCol).as("id_a"))
      .join(rare.select(col("g"), col(idCol).as("id_b")), "g")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      // fingerprints are distinct per doc, so count = distinct grams
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** LSH-blocked, edit-distance-verified near-dup pairs — the classic
    * "block cheaply, verify exactly" shape of the similarity-join
    * literature (cf. Xiao et al. 2008, PPJoin): candidates come from
    * the CAPPED MinHash band join (template families divert, so the
    * pair count is bounded by O(#buckets · maxBucket²) at any corpus
    * size), and each surviving pair is verified with
    * `levenshtein(head_a, head_b)` on a fixed `prefixLen`-char head.
    * Per-pair verify cost is O(prefixLen²) = a constant, so total cost
    * is linear in the candidate count; the verifier sees only the two
    * bounded prefixes — joined back BY ID on 8-byte keys AFTER pair
    * generation, so full texts never ride the band shuffle.
    *
    * Returns (id_a, id_b, est_jaccard, lev) with id_a < id_b. */
  def editVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                        maxBucket: Int, prefixLen: Int): DataFrame = {
    val cand = minhashCandidates(df, textCol, idCol, maxBucket, NumBands)
    val pfx = df.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("__pfx"))
    cand
      .join(pfx.select(col(idCol).as("id_a"), col("__pfx").as("__pa")),
        "id_a")
      .join(pfx.select(col(idCol).as("id_b"), col("__pfx").as("__pb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        levenshtein(col("__pa"), col("__pb")).as("lev"))
  }

  /** Canonical selection: keep the BEST member of each duplicate
    * cluster rather than the min-id one — the production rule
    * ("longest/highest-quality copy wins"). `scoreCol` ranks members
    * (higher wins, ties to the LOWEST id so the keeper is a pure
    * function of the member set). One hash aggregate over the
    * clustered frame: struct-max carries (score, −id) partials
    * map-side, O(1) state per cluster — never a rank Window. */
  def canonicalPerCluster(clustered: DataFrame, clusterCol: String,
                          idCol: String, scoreCol: Column): DataFrame =
    clustered.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(scoreCol.as("s"), (-col(idCol)).as("negid"))).as("__b"))
      .select(col(clusterCol), (-col("__b.negid")).as("keep_id"),
        col("__b.s").as("keep_score"), col("n_members"))
}
