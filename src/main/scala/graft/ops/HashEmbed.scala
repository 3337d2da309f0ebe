package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Feature-hashing document embedder (Weinberger et al. 2009, "Feature
  * Hashing for Large Scale Multitask Learning"): every token maps to a
  * bucket j = h & (d−1) with a sign from the next hash bit, and the
  * document's vector is the signed token-count histogram. The signed
  * variant keeps inner products unbiased estimates of the true
  * bag-of-words inner product, so the hashed vectors plug directly into
  * the cosine/near-dup/ANN machinery ([[Similarity]], [[Dedup]]) — a
  * "free" text embedder with no trained model and no vocabulary.
  *
  * Everything is deterministic arithmetic on the portable 60-bit md5
  * token hash, and `d` is a power of two so bucket and sign are single
  * bitwise ops (`h & (d−1)`, `(h >> log₂d) & 1`) that any engine
  * mirrors exactly — integer counts are bit-identical cross-engine.
  *
  * Scale shape: the embedding is ONE codegen'd tokenize+hash pass per
  * row ([[TextHashExpressions.hashEmbed]]) — a pure map, no shuffle;
  * downstream similarity work inherits the verified
  * shapes of the embedding operators it feeds.
  */
object HashEmbed {

  /** Hashed feature dimension (power of two: bucket/sign are bitwise). */
  val DefaultDim = 64

  private def shiftFor(d: Int): Int = {
    require(d >= 2 && (d & (d - 1)) == 0, s"d=$d must be a power of two")
    java.lang.Integer.numberOfTrailingZeros(d)
  }

  /** Signed token-count vector (array<long>, length d): one native
    * kernel pass. Tokens carry multiplicity; the empty string is ONE
    * empty token (the shared split convention). Null text → null. */
  def counts(text: Column, d: Int = DefaultDim): Column = {
    shiftFor(d)
    TextHashExpressions.hashEmbed(text, d)
  }

  /** Composable executable spec of [[counts]] — O(d·tokens)
    * interpreted lambda machinery (equivalence testing only, never the
    * hot path). */
  def countsSpec(text: Column, d: Int = DefaultDim): Column = {
    val sh = shiftFor(d)
    val zero = typedLit(Seq.fill(d)(0L))
    aggregate(Dedup.tokenHashList(text), zero, (acc, h) => {
      val j = h.bitwiseAND(lit((d - 1).toLong))
      val sgn = when(shiftright(h, sh).bitwiseAND(lit(1L)) === 0, lit(1L))
        .otherwise(lit(-1L))
      transform(acc, (v, i) =>
        when(i.cast("long") === j, v + sgn).otherwise(v))
    })
  }

  /** Unit-L2-normalized hashed vector (array<double>) for the cosine
    * machinery; null when the count vector is all zeros (a doc whose
    * positive and negative token hits cancel in every bucket). ONE
    * native kernel pass ([[TextHashExpressions.hashEmbedUnit]]) —
    * [[unitVecSpec]] is the composed form it is pinned to, which
    * re-runs the tokenize+hash kernel per output element through the
    * transform lambda and exists for equivalence testing only. */
  def unitVec(text: Column, d: Int = DefaultDim): Column =
    TextHashExpressions.hashEmbedUnit(text, d)

  /** Composable executable spec of [[unitVec]] (equivalence testing
    * only — O(d · tokens) kernel re-evaluation inside the lambda). */
  def unitVecSpec(text: Column, d: Int = DefaultDim): Column = {
    val c = counts(text, d)
    val n2 = aggregate(c, lit(0.0),
      (a, x) => a + (x * x).cast("double"))
    when(n2 > 0, transform(c, x => x.cast("double") / sqrt(n2)))
  }

  /** DuckDB rendering of bucket and sign for a token-hash column. */
  def BucketSql(h: String, d: Int): String = { shiftFor(d); s"($h & ${d - 1})" }
  def SignSql(h: String, d: Int): String = {
    val sh = shiftFor(d)
    s"(CASE WHEN (($h >> $sh) & 1) = 0 THEN 1 ELSE -1 END)"
  }
}
