package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The merge-round kernel that [[Bpe]] and [[WordPiece]] learn with:
  * iterate (count symbols and adjacent pairs over the word table,
  * merge the best-scoring pair everywhere), the learner supplying the
  * merged symbol and the score.
  *
  * Scale shape: the word table — (delimited symbol sequence, corpus
  * frequency), one row per distinct word — is built by the learner's
  * one corpus-sized aggregate and cached here as an RDD. Each round is
  * then ONE narrow Spark job: a `treeAggregate` whose per-partition
  * pass re-applies the merges learned so far to every word and counts
  * symbols and adjacent pairs into hash maps, the maps merging on the
  * way to the driver, where the argmax is taken. The driver holds
  * only those count tables, bounded by the symbol inventory (alphabet
  * + ≤ 64 merges), never anything data-sized.
  *
  * Exactness: counts are exact integers summed as Spark's `sum` would;
  * the winner is the highest score, ties broken by (a, b) ascending in
  * UTF-8 binary order ([[UTF8String.binaryCompare]] — the order Spark
  * sorts strings in, which differs from `String.compareTo`'s UTF-16
  * order once a supplementary-plane character is involved). */
object MergeRounds {

  /** One learned merge: the pair, the symbol it becomes, the pair's
    * count and both symbols' counts in the round that picked it. */
  final case class Merge(round: Int, a: String, b: String,
                         merged: String, pairCount: Long,
                         cntA: Long, cntB: Long)

  /** Merge every adjacent (a, b) of a [[Bpe.Delim]]-delimited symbol
    * sequence into `merged`: TWO passes of leftmost non-overlapping
    * `replace(seq, ␟a␟b␟, ␟merged␟)` — Java's `String.replace`, Spark's
    * and DuckDB's `replace` share these semantics. Pass 2 catches pairs
    * whose leading delimiter a pass-1 match consumed; a run of one
    * repeated symbol longer than four therefore merges alternately,
    * not strictly left-greedy (the documented [[Bpe]] deviation). */
  def applyMerge(seq: String, a: String, b: String, merged: String): String = {
    val pat = Bpe.Delim + a + Bpe.Delim + b + Bpe.Delim
    val rep = Bpe.Delim + merged + Bpe.Delim
    seq.replace(pat, rep).replace(pat, rep)
  }

  /** Frequency-weighted symbol and adjacent-pair counts. */
  private final class Counts extends Serializable {
    val syms = mutable.HashMap.empty[String, Long]
    val pairs = mutable.HashMap.empty[(String, String), Long]

    private def bump[K](m: mutable.HashMap[K, Long], key: K, n: Long): Unit =
      m(key) = m.getOrElse(key, 0L) + n

    /** Count one word: its non-empty symbols (the
      * `array_remove(split(seq, ␟), "")` symbols) and their pairs. */
    def add(seq: String, freq: Long): Counts = {
      val s = seq.split(Bpe.DelimCh).filter(_.nonEmpty)
      for (i <- s.indices) {
        bump(syms, s(i), freq)
        if (i > 0) bump(pairs, (s(i - 1), s(i)), freq)
      }
      this
    }

    def merge(o: Counts): Counts = {
      o.syms.foreach { case (k, n) => bump(syms, k, n) }
      o.pairs.foreach { case (k, n) => bump(pairs, k, n) }
      this
    }
  }

  /** Learn up to `k` merges over `words` — columns `seq` (delimited
    * symbol sequence) and `freq` (long). `merged(a, b)` is the symbol a
    * merge makes; `score(pairCount, cntA, cntB)` ranks the pairs.
    * Stops early when no pair remains. Returns the merges and the
    * round-1 symbol inventory (the corpus alphabet; empty for an empty
    * word table). */
  def learn(words: DataFrame, k: Int,
            merged: (String, String) => String,
            score: (Long, Long, Long) => Double): (Seq[Merge], Set[String]) = {
    require(k >= 1 && k <= 64, s"bad merge count $k")
    val table = words.select("seq", "freq").rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = mutable.ArrayBuffer.empty[Merge]
    var alphabet = Set.empty[String]
    var done = false
    // finally: a failing round must not leak the cached word table for
    // the session lifetime
    try while (merges.length < k && !done) {
      val learned = merges.toVector
      val counts = table.treeAggregate(new Counts)(
        { case (acc, (seq, freq)) =>
          acc.add(learned.foldLeft(seq)((s, m) =>
            applyMerge(s, m.a, m.b, m.merged)), freq)
        },
        _ merge _)
      if (merges.isEmpty) alphabet = counts.syms.keySet.toSet
      best(counts, score) match {
        case None => done = true
        case Some(((a, b), c)) =>
          merges += Merge(merges.length + 1, a, b, merged(a, b), c,
            counts.syms(a), counts.syms(b))
      }
    } finally table.unpersist()
    (merges.toSeq, alphabet)
  }

  /** The top-scoring pair with its count: highest score, then (a, b)
    * ascending in UTF-8 binary order. */
  private def best(counts: Counts, score: (Long, Long, Long) => Double)
      : Option[((String, String), Long)] = {
    def sc(p: ((String, String), Long)) =
      score(p._2, counts.syms(p._1._1), counts.syms(p._1._2))
    def cmp(x: String, y: String) =
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    def before(x: ((String, String), Long), y: ((String, String), Long)) = {
      val (sx, sy) = (sc(x), sc(y))
      lazy val byA = cmp(x._1._1, y._1._1)
      sx > sy || sx == sy && (byA < 0 || byA == 0 && cmp(x._1._2, y._1._2) < 0)
    }
    counts.pairs.reduceOption((x, y) => if (before(y, x)) y else x)
  }
}
