package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — the storage/transfer-level dedup
  * shape (LBFS, Muthitacharoen et al. 2001; FastCDC, Xia et al.
  * 2016): chunk boundaries are placed where a WINDOW hash of the
  * last [[W]] characters hits 0 mod [[D]], so identical content
  * regions chunk identically REGARDLESS OF OFFSET — one inserted
  * byte re-aligns within a chunk instead of shifting every
  * subsequent fingerprint the way fixed-size blocks do. The measured
  * output is the chunk-level dedup ratio (distinct chunk chars /
  * total chars): the storage a CDC-based dedup store actually saves
  * on a corpus with shifted boilerplate.
  *
  * Boundary rule (the executable spec both engines replay): from
  * chunk start `cur`, with `hi = min(cur + MaxC, n)`, the next
  * boundary is the smallest position c in [cur + MinC, hi) whose
  * window hash satisfies wh(c) % D == 0, else `hi` (forced at MaxC,
  * and the document tail — possibly shorter than MinC — closes the
  * last chunk). The window hash at position c covers characters
  * c−W+1..c and may span the previous chunk — that is what makes
  * boundaries content-defined rather than chunk-relative.
  *
  * Cross-engine determinism: wh(c) = (Σ_j (cp(c−j)·B^j mod M)) mod M
  * over codepoints — exact integer arithmetic, replayed in SQL by a
  * per-position list comprehension (no rolling state needed: the
  * window sum is position-independent). Chunk fingerprints are the
  * md5-derived [[TextAnalysis.tokenHash]] of the chunk text.
  *
  * Scale shape: candidates (one O(n·W) projection), the min/max
  * walk (O(chunks · candidates) fold over the candidate array), and
  * chunk extraction are all PURE PER-ROW MAPS — text never
  * shuffles; only (source, fp, len) rows reach the aggregate. Each
  * stage lands in its own computeOnce-pinned projection so the HOF
  * lambdas index materialized arrays instead of re-running the
  * upstream stage per step (the PlanAudit rule). */
object Cdc {

  /** Window width (chars). */
  val W = 16
  /** Polynomial base. */
  val B = 257L
  /** Hash modulus (prime; per-term products stay in int64). */
  val M = 999999937L
  /** Boundary divisor: expected chunk length ≈ D chars past MinC. */
  val D = 64L
  /** Minimum chunk length (≥ W so every candidate has a full
    * window). */
  val MinC = 32
  /** Maximum (forced-boundary) chunk length. */
  val MaxC = 200

  /** B^j mod M for j < W (public: the oracle SQL embeds it as a
    * list literal). */
  val BPow: Array[Long] = {
    val a = new Array[Long](W)
    a(0) = 1L
    for (j <- 1 until W) a(j) = a(j - 1) * B % M
    a
  }

  /** Candidate boundary positions of `text` (1-based, ascending):
    * every c in [W, n] with wh(c) % D == 0. */
  def candidates(text: Column): Column = {
    val pows = typedlit(BPow.toSeq)
    val wh = (c: Column) =>
      aggregate(sequence(lit(0), lit(W - 1)), lit(0L),
        (acc, j) => acc +
          ascii(text.substr(c - j, lit(1))).cast("long") *
            element_at(pows, j + 1) % lit(M)) % lit(M)
    filter(
      when(length(text) >= W,
        transform(sequence(lit(W), length(text)), c => c))
        .otherwise(array().cast("array<int>")),
      c => wh(c) % lit(D) === 0)
  }

  /** Chunk END positions from a candidate array (the min/max walk of
    * the object doc). `cands` must be a bound attribute. */
  def boundaries(text: Column, cands: Column): Column = {
    val n = length(text)
    val maxSteps = (n + lit(MinC - 1)) / lit(MinC) + 1
    aggregate(
      sequence(lit(1), maxSteps.cast("int")),
      struct(lit(0).as("cur"), array().cast("array<int>").as("bs")),
      (st, _) => {
        val cur = st.getField("cur")
        val hi = least(cur + lit(MaxC), n)
        val cand = array_min(filter(cands,
          c => c >= cur + lit(MinC) && c < hi))
        val next = coalesce(cand, hi)
        when(cur < n,
          struct(next.as("cur"),
            concat(st.getField("bs"), array(next)).as("bs")))
          .otherwise(st)
      }).getField("bs")
  }

  /** One (doc) → (len, fp) rows — the PRODUCTION path: the fused
    * one-pass kernel ([[TextHashExpressions.cdcChunks]], compiled,
    * rolling hash) explodes to the chunk grain. Bit-identical to
    * [[chunksSpec]] (CdcSpec pins it); the column spec is O(n·W)
    * interpreted HOF work per doc — the winnowing fused-kernel
    * discipline. Empty/null texts yield no rows. */
  def chunks(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame = {
    val t = col(textCol)
    df.where(t.isNotNull && length(t) > 0)
      .select(keep.map(col) :+ explode(
        TextHashExpressions.cdcChunks(
          PlanHints.knownNotNull(t))).as("__c"): _*)
      .select(keep.map(col) ++ Seq(
        col("__c.len").as("len"), col("__c.fp").as("fp")): _*)
  }

  /** Chunk-overlap near-dup pairs (id_a < id_b): docs whose chunk
    * SETS overlap with containment ≥ `theta` on the smaller side —
    * the CDC application form (storage dedup finds the shifted
    * near-dups, this reports them at the document grain). Chunk
    * fingerprints occurring in more than `maxDf` docs are diverted
    * from pair generation (a boilerplate chunk shared by B docs
    * would emit B²/2 pairs in one task — the capped-LSH skew
    * discipline; diverted chunks still count toward each doc's SIZE,
    * making containment conservative, never inflated). Scale shape:
    * distinct (id, fp) grain → hot-fp anti-join → fp-equality
    * self-join bounded by O(#fps · maxDf²) → pair-grain aggregate;
    * text never appears. */
  def pairs(chunked: DataFrame, idCol: String,
            theta: Double, maxDf: Int): DataFrame = {
    val cf = chunked.select(col(idCol), col("fp")).distinct()
    val sizes = cf.groupBy(idCol).agg(count(lit(1)).as("__nc"))
    val hot = cf.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf).select("fp")
    val cold = cf.join(hot, Seq("fp"), "left_anti")
    val shared = cold.select(col(idCol).as("id_a"), col("fp"))
      .join(cold.select(col(idCol).as("id_b"), col("fp")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__nc").as("n_a")),
        "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__nc").as("n_b")),
        "id_b")
      .withColumn("containment",
        col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .where(col("containment") >= theta)
      .select("id_a", "id_b", "n_shared", "n_a", "n_b", "containment")
  }

  /** The composable COLUMN-FORM spec of [[chunks]] (test-only:
    * candidates → walk → extract, each stage computeOnce-pinned;
    * `fp` is [[TextAnalysis.tokenHash]] of the chunk text). Kept as
    * the executable specification the fused kernel is pinned
    * against — do not put it on a corpus-sized hot path. */
  def chunksSpec(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame = {
    val t = col(textCol)
    df.where(t.isNotNull && length(t) > 0)
      .withColumn("__cands",
        PlanHints.computeOnce(candidates(PlanHints.knownNotNull(t))))
      .withColumn("__bs",
        PlanHints.computeOnce(boundaries(t, col("__cands"))))
      .select(keep.map(col) :+ explode(
        transform(sequence(lit(1), size(col("__bs"))), k => {
          // k = 1 starts at 0 (element_at index 0 is illegal)
          val prev = when(k === 1, lit(0))
            .otherwise(element_at(col("__bs"), k - 1))
          t.substr(prev + 1, element_at(col("__bs"), k) - prev)
        })).as("chunk"): _*)
      .select(keep.map(col) ++ Seq(
        length(col("chunk")).as("len"),
        TextAnalysis.tokenHash(col("chunk")).as("fp")): _*)
  }
}
