package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE vocabulary induction (Sennrich et al. 2016 — the
  * "train a tokenizer on the corpus" step of a data pipeline):
  * iterate (count adjacent symbol pairs over the word table, merge
  * the most frequent pair everywhere), character-initialized.
  *
  * Scale shape: the corpus is touched ONCE (word-frequency
  * aggregate, map-side partial, vocabulary-sized output ≪ corpus);
  * every merge round is then one narrow Spark job over the cached
  * word table ([[MergeRounds]]: re-apply the merges so far, count
  * pairs per partition, take the argmax on the driver) — the same
  * rounds-of-aggregates shape as Lloyd's k-means. Nothing data-sized
  * ever reaches the driver.
  *
  * Cross-engine determinism: symbol sequences are 0x1F-delimited
  * strings and a merge is TWO passes of plain leftmost
  * non-overlapping `replace(seq, ␟a␟b␟, ␟ab␟)` — identical
  * semantics in every engine (pass 2 catches pairs whose leading
  * delimiter the previous match consumed). For a run of one REPEATED
  * symbol (…aaaa…) this merges alternately rather than strictly
  * left-greedy — deterministic and engine-identical, documented
  * deviation from the fold form. Pair-count ties break to the
  * lexicographically smallest (a, b) under binary collation. */
object Bpe {

  /** Symbol delimiter: the ASCII unit separator, outside any corpus
    * alphabet. */
  val Delim = ""

  /** DuckDB rendering of the delimiter. */
  val DelimSql = "chr(31)"

  /** [[Delim]] as a char, for kernel loops. */
  val DelimCh: Char = Delim.charAt(0)

  /** Word-frequency table (tok, freq) — the one corpus-sized pass.
    * Empty tokens and tokens containing the delimiter are dropped. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0 && !col("tok").contains(Delim))
      .groupBy("tok").agg(count(lit(1)).as("freq"))

  /** Delimited character-symbol sequence of a word: ␟c1␟c2␟…␟cn␟.
    * Spark's split(tok, "") yields a trailing empty element (Java
    * Pattern.split, limit −1) — removed so the sequence ends in ONE
    * delimiter, the exact shape this doc and the DuckDB oracle's
    * `chr(31) || array_to_string(string_split(tok, ''), chr(31)) ||
    * chr(31)` produce ([[MergeRounds]] and segment() strip empties
    * anyway, but a direct seq-string comparison must not silently
    * differ). */
  def initSeq(tok: Column): Column =
    concat(lit(Delim),
      array_join(array_remove(split(tok, ""), ""), Delim), lit(Delim))

  /** One merge application as a Column: the two replace passes of
    * [[MergeRounds.applyMerge]], which learning uses, so [[segment]]
    * replays exactly the merges the rounds counted. */
  def applyMerge(seqCol: Column, a: String, b: String): Column = {
    val pat = lit(Delim + a + Delim + b + Delim)
    val rep = lit(Delim + a + b + Delim)
    val once = call_function("replace", seqCol, pat, rep)
    call_function("replace", once, pat, rep)
  }

  /** Learn `k` merges from a corpus ([[MergeRounds]] with the raw
    * pair count as the score): one merge per round, most-frequent
    * first. The merge table is model-sized by construction (≤ k
    * rows). Rounds where no pair remains stop early. */
  def learn(df: DataFrame, textCol: String, k: Int): Seq[MergeRounds.Merge] = {
    val words = wordTable(df, textCol)
      .select(initSeq(col("tok")).as("seq"), col("freq"))
    MergeRounds.learn(words, k, _ + _, (c, _, _) => c.toDouble)._1
  }

  /** [[learn]] as a DataFrame (the oracle-query surface). */
  def learnDf(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val rows = learn(df, textCol, k).map(m =>
      Row(m.round, m.a, m.b, m.merged, m.pairCount))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("a", StringType, nullable = false),
        StructField("b", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Segment words with a learned merge list: apply the merges in
    * order to the delimited sequence — a pure map (the tokenizer's
    * APPLY side). Returns the symbol array. */
  def segment(tok: Column, merges: Seq[(String, String)]): Column = {
    val seq = merges.foldLeft(initSeq(tok)) { case (s, (a, b)) =>
      applyMerge(s, a, b)
    }
    array_remove(split(seq, Delim), "")
  }
}
