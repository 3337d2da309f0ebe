package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed WordPiece tokenizer induction (Schuster & Nakajima
  * 2012; the BERT tokenizer) — the third member of the tokenizer
  * family beside [[Bpe]] (count-scored merges) and [[UnigramLm]]
  * (EM-pruned inventory). WordPiece differs from BPE in BOTH halves:
  * the LEARN side merges the pair maximizing the likelihood ratio
  * count(ab) / (count(a)·count(b)) instead of the raw pair count, and
  * the APPLY side is greedy longest-match-first (MaxMatch) against
  * the final vocabulary instead of a merge replay — with BERT's
  * whole-word-[UNK] semantics when no piece matches.
  *
  * Symbols carry the continuation mark explicitly: a word's first
  * character is unmarked, every later character is prefixed with
  * [[Mark]] (the ASCII record separator — rendered "##" for output,
  * the BERT convention). A merge of (a, b) produces a + stripMark(b),
  * so the merged symbol inherits a's position class; b is never
  * word-initial, so b always carries the mark.
  *
  * Scale shape — the [[Bpe]] discipline exactly: the corpus is
  * touched ONCE (word-frequency aggregate); every merge round is one
  * narrow Spark job over the cached word table ([[MergeRounds]]:
  * re-apply the merges so far, count symbols and pairs per partition,
  * take the ratio argmax on the driver), and the apply side is a pure
  * per-row map.
  *
  * Cross-engine determinism: pair and symbol counts are exact
  * integers; the score is ONE IEEE division, CAST(c AS DOUBLE) /
  * CAST(ca·cb AS DOUBLE), computed identically on both engines; ties
  * break by (a, b) under binary collation. The MaxMatch state machine
  * advances ≥ 1 character per step, scanning candidate lengths
  * DESCENDING with first-match, so the segmentation — and the
  * position-weighted piece digest — is a pure function of the
  * vocabulary on both engines. */
object WordPiece {

  /** Continuation mark: the ASCII record separator, outside any
    * corpus alphabet (and distinct from [[Bpe.Delim]]). */
  val Mark = ""

  /** DuckDB rendering of the mark. */
  val MarkSql = "chr(30)"

  /** Digest modulus (prime < 2³⁰·ish): per-word digests stay under
    * it, so corpus sums stay in int64 at any scale. */
  val DigestMod = 999999937L

  /** Word-frequency table — the one corpus-sized pass. Tokens
    * containing either sentinel are dropped (both engines). */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0 &&
        !col("tok").contains(Bpe.Delim) && !col("tok").contains(Mark))
      .groupBy("tok").agg(count(lit(1)).as("freq"))

  /** Delimited marked-symbol sequence of a word:
    * ␟c1␟[Mark]c2␟[Mark]c3␟…␟. */
  def initSeq(tok: Column): Column = {
    val cs = array_remove(split(tok, ""), "")
    concat(lit(Bpe.Delim),
      array_join(transform(cs, (c, i) =>
        when(i === 0, c).otherwise(concat(lit(Mark), c))), Bpe.Delim),
      lit(Bpe.Delim))
  }

  /** The symbol a merge of (a, b) makes: a + stripMark(b), keeping
    * a's position class (b is never word-initial, so it always
    * carries the mark). */
  def merged(a: String, b: String): String = a + b.substring(1)

  /** Learn `k` likelihood-scored merges ([[MergeRounds]] with the
    * ratio score). Rounds with no remaining pair stop early. */
  def learn(df: DataFrame, textCol: String, k: Int): Seq[MergeRounds.Merge] =
    learnWithVocab(df, textCol, k)._1

  /** [[learn]] plus the MaxMatch vocabulary hashes. The vocabulary is
    * the round-1 symbol inventory (every word-initial character and
    * every marked interior character — the alphabet) plus the merged
    * symbols, so it comes out of the same rounds at no extra pass. */
  def learnWithVocab(df: DataFrame, textCol: String, k: Int,
                     mod: Long = DigestMod): (Seq[MergeRounds.Merge], Map[String, Long]) = {
    val words = wordTable(df, textCol)
      .select(initSeq(col("tok")).as("seq"), col("freq"))
    // ANSI overflow of ca·cb throws, as Spark's multiply does
    val (merges, alphabet) = MergeRounds.learn(words, k, merged,
      (c, ca, cb) => c.toDouble / Math.multiplyExact(ca, cb).toDouble)
    val all = alphabet ++ merges.map(_.merged)
    (merges,
      all.map(s => s -> math.floorMod(TextHashFns.tokenHash60(s), mod)).toMap)
  }

  /** Render a raw symbol for output: the leading mark becomes the
    * BERT "##" prefix. */
  private def render(s: String): String =
    if (s.startsWith(Mark)) "##" + s.substring(1) else s

  /** [[learn]] as a DataFrame (the oracle-query surface): rendered
    * symbols, exact counts, and the score as the one IEEE division
    * both engines perform. */
  def learnDf(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val rows = learn(df, textCol, k).map(m =>
      Row(m.round, render(m.a), render(m.b), render(m.merged),
        m.pairCount, m.cntA, m.cntB,
        m.pairCount.toDouble / (m.cntA * m.cntB).toDouble))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("a", StringType, nullable = false),
        StructField("b", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false),
        StructField("cnt_a", LongType, nullable = false),
        StructField("cnt_b", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))))
  }

  /** Greedy longest-match segmentation state of one token: struct
    * (np, unk, dg) — piece count, BERT whole-word-[UNK] flag, and the
    * position-weighted digest Σ (k+1)·pmod(hash(rawPiece), mod), mod
    * mod. A pure per-row map over a LITERAL vocabulary map — no
    * shuffle, no state. Candidate lengths scan
    * DESCENDING with first-match (the MaxMatch rule); each candidate
    * is materialized ONCE into an array before the fold, so the map
    * lookup never re-evaluates inside the picking lambda (the
    * [[UnigramLm]] cands pattern). */
  def maxMatch(tok: Column, vocab: Map[String, Long],
               mod: Long = DigestMod): Column =
    // native one-pass kernel (r14 optimization round — the
    // interpreted HOF fold below was the entire apply-pass cost);
    // WordPieceSpec pins kernel == spec over the learned vocab and
    // the edge cases (empty, UNK-forcing, mark-length boundaries)
    TextHashExpressions.wordPieceMaxMatch(tok, vocab, mod)

  /** The composable higher-order-function form of [[maxMatch]] — its
    * executable spec (kernel parity pinned by WordPieceSpec). */
  def maxMatchSpec(tok: Column, vocab: Map[String, Long],
                   mod: Long = DigestMod): Column = {
    require(vocab.nonEmpty, "empty vocabulary")
    val maxLen = vocab.keys.map(s =>
      if (s.startsWith(Mark)) s.length - 1 else s.length).max
    val pm = typedlit(vocab)
    val init = struct(lit(1).as("pos"), lit(0).as("np"),
      lit(false).as("unk"), lit(0L).as("dg"))
    val fin = aggregate(
      sequence(lit(1), length(tok)), init,
      (st, _) => {
        val pos = st.getField("pos")
        val np = st.getField("np")
        val unk = st.getField("unk")
        val dg = st.getField("dg")
        val active = !unk && pos <= length(tok)
        val cands = transform(
          sequence(least(lit(maxLen), length(tok) - pos + 1),
            lit(1), lit(-1)),
          l => struct(l.as("l"),
            try_element_at(pm,
              concat(when(pos > lit(1), lit(Mark)).otherwise(lit("")),
                tok.substr(pos, l))).as("h")))
        val best = aggregate(cands,
          struct(lit(0).as("l"), lit(0L).as("h")),
          (b, c) => when(b.getField("l") > 0 || c.getField("h").isNull, b)
            .otherwise(struct(c.getField("l").as("l"),
              c.getField("h").as("h"))))
        // bind `best` ONCE through a one-element lambda: HOF lambdas
        // evaluate interpreted, so referencing the fold via several
        // getFields would re-run the whole candidate scan per field
        val stepped = element_at(transform(array(best), bb =>
          when(bb.getField("l") === 0,
            struct(pos.as("pos"), np.as("np"),
              lit(true).as("unk"), dg.as("dg")))
          .otherwise(struct(
            (pos + bb.getField("l")).as("pos"),
            (np + 1).as("np"),
            lit(false).as("unk"),
            pmod(dg + (np + 1).cast("long") * bb.getField("h"),
              lit(mod)).as("dg")))), 1)
        when(!active, st).otherwise(stepped)
      })
    struct(fin.getField("np").as("np"), fin.getField("unk").as("unk"),
      fin.getField("dg").as("dg"))
  }
}
