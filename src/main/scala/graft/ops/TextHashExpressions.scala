package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the per-document signature folds.
  *
  * The composable forms (split → array_distinct → transform(md5/conv)
  * → `aggregate` min-fold per permutation) walk Catalyst's interpreted
  * lambda machinery over every token several times per document — and
  * the dedup queries evaluate the signature pipeline up to three times
  * (bucket sizes + both self-join sides). These expressions do
  * tokenize → md5 → fold in ONE tight loop inside whole-stage codegen.
  *
  * Parity: tokenization is `split(text, " ", -1)` (Java `Pattern
  * .split`, exactly Spark's `split` builtin — trailing empties kept,
  * the empty token hashed like any other, matching DuckDB
  * `string_split`); the 60-bit token hash is the first 15 hex chars of
  * md5 (== `conv(substring(md5(t),1,15),16,10)` ==
  * `('0x'||substr(md5(t),1,15))::BIGINT`); min-folds are
  * order-independent, so HashSet iteration order is immaterial.
  * [[Dedup.minhashSignatures]]' former composable pipeline remains in
  * the test suite as the executable spec these are pinned to.
  */
object TextHashFns {

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** 60-bit token hash: first 15 hex chars of md5 == first 7 bytes +
    * the high nibble of byte 7. */
  def tokenHash60(t: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val dig = md.digest(t.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
    (h << 4) | ((dig(7) & 0xf0L) >> 4)
  }

  /** Fused content-defined chunking ([[Cdc]]'s production kernel):
    * one pass computes the rolling window hash (identical residues
    * mod M to the per-position window sum the column spec and the
    * SQL oracle use — the roll subtracts c·B^W and re-reduces, all
    * exact int64), collects candidate boundaries, runs the min/max
    * walk with an ascending pointer, and fingerprints each chunk
    * with [[tokenHash60]]. Returns array<struct<len int, fp long>>.
    * Codepoint-indexed, matching the column spec's
    * substr/length/ascii semantics on ASCII corpora (CdcSpec pins
    * kernel == column spec). The composable column form is
    * O(n·W) interpreted HOF work per doc — this is the same
    * fused-kernel discipline as winnowing. */
  def cdcChunks(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val cp = s.codePoints().toArray
    val n = cp.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val W = Cdc.W
    val M = Cdc.M
    val D = Cdc.D
    val minC = Cdc.MinC
    val maxC = Cdc.MaxC
    // candidate boundary positions (1-based), ascending
    val cands = new java.util.ArrayList[Integer]()
    if (n >= W) {
      val bW = Cdc.BPow(W - 1) * Cdc.B % M // B^W mod M
      // direct window sum at position W, then roll
      var h = 0L
      var j = 0
      while (j < W) {
        h = (h + cp(W - 1 - j).toLong * Cdc.BPow(j)) % M
        j += 1
      }
      if (h % D == 0) cands.add(W)
      var i = W + 1
      while (i <= n) {
        h = ((h * Cdc.B + cp(i - 1)) % M + M -
          cp(i - 1 - W).toLong * bW % M) % M
        if (h % D == 0) cands.add(i)
        i += 1
      }
    }
    // min/max walk with an ascending candidate pointer
    val out = new java.util.ArrayList[Any]()
    var cur = 0
    var ci = 0
    while (cur < n) {
      val hi = math.min(cur + maxC, n)
      while (ci < cands.size() && cands.get(ci) < cur + minC) ci += 1
      val next =
        if (ci < cands.size() && cands.get(ci) < hi) cands.get(ci).toInt
        else hi
      val chunk = new String(cp, cur, next - cur)
      out.add(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](next - cur, tokenHash60(chunk))))
      cur = next
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash signature array (size [[Dedup.NumPerms]]) over the
    * DISTINCT token set; all entries == [[Dedup.P]] iff the text has
    * no tokens (P is unreachable as a real signature: x mod P < P). */
  def minhashSigs(text: UTF8String): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val nPerms = Dedup.NumPerms
    val sigs = new Array[Long](nPerms)
    java.util.Arrays.fill(sigs, Dedup.P)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val th = tokenHash60(t) % Dedup.P
        var p = 0
        while (p < nPerms) {
          val v = (Dedup.MinhashAs(p) * th + Dedup.MinhashBs(p)) % Dedup.P
          if (v < sigs(p)) sigs(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sigs)
  }

  /** DISTINCT word-n-gram fingerprints in one pass: tokenize → 60-bit
    * md5 token hash mod [[Dedup.NgramFpMod]] → polynomial fold
    * (acc·31 + h) mod M per n-window → first-occurrence-ordered
    * distinct (matching `array_distinct` over the composable
    * [[Dedup.ngramFingerprints]] spec). Texts with fewer than n tokens
    * yield an empty array. */
  def ngramFps(text: UTF8String, n: Int): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val m = Dedup.NgramFpMod
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      hs(i) = tokenHash60(toks(i)) % m
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= toks.length - n) {
      var acc = hs(i)
      var k = 1
      while (k < n) { acc = (acc * 31L + hs(i + k)) % m; k += 1 }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  /** DSIR feature buckets in ONE tokenize+hash pass: per-token 60-bit
    * md5 hash mod [[Dedup.NgramFpMod]], then every unigram (h % m)
    * followed by every bigram (((h_i·31 + h_{i+1}) mod M) % m), WITH
    * multiplicity — the kernel form of the composable
    * [[graft.ops.Dsir.bucketListSpec]] (which re-evaluates the hash
    * array per gram window: O(tokens²) md5 calls, measured ~60×
    * slower at sf0.1). */
  def dsirBuckets(text: UTF8String, m: Int): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    val mod = Dedup.NgramFpMod
    val n = toks.length
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = tokenHash60(toks(i)) % mod; i += 1 }
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    i = 0
    while (i < n) { out(i) = hs(i) % m; i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = ((hs(i) * 31L + hs(i + 1)) % mod) % m
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fused DSIR weight: Σ ratios(bucket) over [[dsirBuckets]] in the
    * same one pass (same summation order as the composable
    * concat-then-fold spec: all unigrams, then all bigrams — so the
    * double result is bit-identical). Returns (log_w, n_feats). */
  def dsirWeight(text: UTF8String, m: Int,
                 ratios: Array[Double]): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val mod = Dedup.NgramFpMod
    val n = toks.length
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = tokenHash60(toks(i)) % mod; i += 1 }
    var s = 0.0
    i = 0
    while (i < n) { s += ratios((hs(i) % m).toInt); i += 1 }
    i = 0
    while (i < n - 1) {
      s += ratios((((hs(i) * 31L + hs(i + 1)) % mod) % m).toInt)
      i += 1
    }
    InternalRow(s, if (n >= 2) 2L * n - 1 else n.toLong)
  }

  /** Signed feature-hashing embedding ([[HashEmbed]]): length-d signed
    * token-count vector in one tokenize+hash pass. d is a power of two;
    * bucket = h & (d−1), sign from bit log₂d. Tokens carry
    * multiplicity (a count histogram, not a set). */
  def hashEmbed(text: UTF8String, d: Int): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    val mask = (d - 1).toLong
    val shift = java.lang.Integer.numberOfTrailingZeros(d)
    val out = new Array[Long](d)
    var i = 0
    while (i < toks.length) {
      val h = tokenHash60(toks(i))
      val j = (h & mask).toInt
      if (((h >> shift) & 1L) == 0L) out(j) += 1 else out(j) -= 1
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Unit-L2-normalized [[hashEmbed]] in the SAME pass: counts, then
    * ascending-index sum of squares (matching the composed
    * `aggregate` fold order), then one division per element. Null for
    * an all-zero count vector (every bucket's ± hits cancel — no
    * direction). Exists because the composed Column form referenced
    * the count vector inside a `transform` lambda, and Catalyst
    * re-evaluates the whole tokenize+hash kernel plus the O(d) norm
    * fold once PER OUTPUT ELEMENT there (~65 kernel passes per row at
    * d = 64 — the same lambda-duplication class the Bloom probe
    * kernel documents). */
  def hashEmbedUnit(text: UTF8String, d: Int): GenericArrayData = {
    val counts = hashEmbed(text, d)
    var n2 = 0.0
    var j = 0
    while (j < d) {
      val v = counts.getLong(j)
      n2 += (v * v).toDouble
      j += 1
    }
    if (!(n2 > 0)) return null
    val nrm = math.sqrt(n2)
    val out = new Array[Any](d)
    j = 0
    while (j < d) {
      out(j) = counts.getLong(j).toDouble / nrm
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Character-class Shannon entropy (nats): classes are the 26
    * case-folded letters, space (26), and other (27); H = −Σ p·ln p
    * over the non-empty classes in ascending class order (fixed
    * order ⇒ bit-identical cross-engine from identical integer
    * counts). The cheap gibberish/boilerplate signal: natural prose
    * sits in a band, repeated boilerplate collapses low, random
    * noise pushes high. Empty text → 0. */
  def charEntropy(text: UTF8String): Double = {
    val s = text.toString
    val counts = new Array[Long](28)
    var i = 0
    var total = 0L
    // step by CODEPOINT, not UTF-16 unit: a surrogate pair is ONE
    // 'other' character, matching the DuckDB oracle's per-character
    // split and the sibling scriptProfile kernel (counting the two
    // halves separately would skew n and the class mass for any
    // non-BMP text)
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cls =
        if (cp >= 'a' && cp <= 'z') cp - 'a'
        else if (cp >= 'A' && cp <= 'Z') cp - 'A'
        else if (cp == ' ') 26
        else 27
      counts(cls) += 1
      total += 1
      i += Character.charCount(cp)
    }
    val n = total.toDouble
    if (n == 0) return 0.0
    var h = 0.0
    var k = 0
    while (k < 28) {
      if (counts(k) > 0) {
        val p = counts(k) / n
        h -= p * math.log(p)
      }
      k += 1
    }
    h
  }

  /** Per-doc DISTINCT n-gram fingerprints PAIRED with their
    * first-occurrence phrase (space-joined tokens) — the spelling-
    * recovery side of duplicated-phrase reporting, one pass like
    * [[ngramFps]] (same hash universe, same LinkedHashSet distinct
    * semantics). Returns array<struct<fp, gram>>. */
  def ngramFpStrings(text: UTF8String, n: Int): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val m = Dedup.NgramFpMod
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      hs(i) = tokenHash60(toks(i)) % m
      i += 1
    }
    val seen = new java.util.LinkedHashMap[java.lang.Long, String]()
    i = 0
    while (i <= toks.length - n) {
      var acc = hs(i)
      var k = 1
      while (k < n) { acc = (acc * 31L + hs(i + k)) % m; k += 1 }
      if (!seen.containsKey(acc)) {
        val sb = new java.lang.StringBuilder(toks(i))
        k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        seen.put(acc, sb.toString)
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = InternalRow(e.getKey.longValue,
        UTF8String.fromString(e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Script bucket names in classification-priority order; the first
    * 7 are writing scripts eligible for `dominant`. */
  val ScriptNames: Array[String] = Array("latin", "cyrillic", "greek",
    "cjk", "hangul", "arabic", "devanagari", "digit", "space", "other")

  /** Unicode script profile over explicit BMP codepoint RANGES (not
    * `Character.UnicodeScript` — fixed integer ranges are what an
    * external engine can mirror exactly, immune to Unicode-version
    * drift): per-bucket codepoint counts plus the dominant script
    * (first-in-order wins ties; 'none' when no script chars). One
    * pass, codepoint-stepped (astral chars count once, as 'other').
    * The multilingual-pipeline signal upstream of language ID. */
  def scriptProfile(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new Array[Long](10)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cls =
        if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
          (cp >= 0xC0 && cp <= 0x24F)) 0
        else if (cp >= 0x400 && cp <= 0x4FF) 1
        else if (cp >= 0x370 && cp <= 0x3FF) 2
        else if (cp >= 0x4E00 && cp <= 0x9FFF) 3
        else if (cp >= 0xAC00 && cp <= 0xD7AF) 4
        else if (cp >= 0x600 && cp <= 0x6FF) 5
        else if (cp >= 0x900 && cp <= 0x97F) 6
        else if (cp >= '0' && cp <= '9') 7
        else if (cp == ' ') 8
        else 9
      counts(cls) += 1
      i += Character.charCount(cp)
    }
    var best = 0
    var k = 1
    while (k < 7) { if (counts(k) > counts(best)) best = k; k += 1 }
    val dom = if (counts(best) == 0) "none" else ScriptNames(best)
    InternalRow(counts(0), counts(1), counts(2), counts(3), counts(4),
      counts(5), counts(6), counts(7), counts(8), counts(9),
      UTF8String.fromString(dom))
  }

  /** 16-bit SimHash over the distinct token set: bit b set iff
    * Σ_tokens (±1 by bit b of the 60-bit hash) > 0. NOTE the −1
    * sentinel below is a DEFENSIVE dead branch for non-null input:
    * `split(" ", -1)` always yields at least the empty token, so
    * empty/blank docs hash the empty token's bit pattern (they
    * collide with each other, by design — they ARE mutual
    * duplicates), and every non-null text lands in [0, 2¹⁶)
    * ([[graft.ops.Dedup.simhash16]] states the same contract). The
    * sentinel would fire only if the tokenizer changed to drop empty
    * tokens, and is kept so that change fails loudly downstream
    * rather than silently emitting bit-sums of nothing. */
  def simhash16(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val bitSums = new Array[Int](16)
    var any = false
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        any = true
        val h = tokenHash60(t)
        var b = 0
        while (b < 16) {
          if (((h >> b) & 1L) == 1L) bitSums(b) += 1 else bitSums(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return -1L
    var sim = 0L
    var b = 0
    while (b < 16) {
      if (bitSums(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  /** 60-bit SimHash over the distinct token set — [[simhash16]]'s
    * construction widened to every bit of the 60-bit token hash: the
    * signature width band-blocked hamming dedup wants (4×16-bit bands
    * ⇒ pigeonhole-complete for hamming ≤ 3). Same empty-doc contract
    * and defensive sentinel as [[simhash16]]. */
  def simhash60(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val bitSums = new Array[Int](60)
    var any = false
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        any = true
        val h = tokenHash60(t)
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) bitSums(b) += 1 else bitSums(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return -1L
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (bitSums(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  /** Winnowing anchors in ONE pass (Schleimer et al. 2003): k-token
    * window fingerprints (the [[ngramFps]] chain WITHOUT the
    * distinct — winnowing needs every position), then a monotonic-
    * deque sliding-window minimum over runs of `w` — O(tokens) total,
    * where the composable `transform(sequence, i →
    * array_min(slice(fps, i, w)))` form re-inlines the fingerprint
    * array per slice element under Catalyst's CollapseProject
    * (O(m²·k) md5 calls — unusable past toy corpora). Docs with
    * 0 < m < w windows yield one anchor (the global min); selected
    * values dedupe in first-selection order. */
  def winnowAnchors(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    val m0 = toks.length - k + 1
    if (m0 <= 0) return new GenericArrayData(new Array[Any](0))
    val mod = Dedup.NgramFpMod
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { hs(i) = tokenHash60(toks(i)) % mod; i += 1 }
    val fps = new Array[Long](m0)
    i = 0
    while (i < m0) {
      var acc = hs(i)
      var j = 1
      while (j < k) { acc = (acc * 31L + hs(i + j)) % mod; j += 1 }
      fps(i) = acc
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (m0 < w) {
      var mn = fps(0)
      i = 1
      while (i < m0) { if (fps(i) < mn) mn = fps(i); i += 1 }
      seen.add(mn)
    } else {
      // monotonic deque of indices with increasing fps values
      val dq = new Array[Int](m0)
      var head = 0; var tail = 0 // [head, tail)
      i = 0
      while (i < m0) {
        while (tail > head && fps(dq(tail - 1)) >= fps(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) seen.add(fps(dq(head)))
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  /** Per-document BPE piece count under a FITTED merge list, fused:
    * tokenize on " ", and for each non-empty delimiter-free word
    * replay the [[Bpe.segment]] chain — delimited char sequence, then
    * per merge TWO literal replace passes (Java `String.replace` ==
    * Spark's `replace` builtin: all occurrences, left-to-right
    * non-overlapping) — and add its symbol count (delimiter count −
    * 1). One JVM pass per row; the composable Column form walks
    * Catalyst's interpreted lambda per WORD (measured ~4× slower at
    * sf0.1 on q_pack_bpe). `pats`/`reps` are the pre-rendered
    * ␟a␟b␟ → ␟ab␟ pairs, applied strictly in merge order.
    *
    * DOCUMENTED DEVIATION from canonical leftmost-greedy BPE apply:
    * two non-overlapping replace passes resolve any run of ≤ 4
    * consecutive overlapping occurrences, but a 3+-run like merge
    * (a,a) on "a a a a a a" segments aa|a|aa|a here vs aa|aa|aa
    * greedy. Both engines AND the DuckDB oracle share these replace
    * semantics (that is the point — `String.replace` == Spark
    * `replace` == DuckDB `replace`, so parity is exact), but piece
    * counts can differ from a real tokenizer's on such runs; iterate
    * the replace to fixpoint on all three sides if canonical greedy
    * semantics are ever needed. */
  def bpePieceCount(text: UTF8String, pats: Array[String],
                    reps: Array[String]): Long = {
    val words = text.toString.split(" ", -1)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty && w.indexOf(Bpe.DelimCh) < 0) {
        val sb = new java.lang.StringBuilder(2 * w.length + 1)
        sb.append(Bpe.DelimCh)
        // one symbol per code point, as Spark's split(tok, "") and
        // DuckDB split (a surrogate pair is ONE symbol, not two)
        var ci = 0
        while (ci < w.length) {
          val n = Character.charCount(w.codePointAt(ci))
          sb.append(w, ci, ci + n); sb.append(Bpe.DelimCh); ci += n
        }
        var seq = sb.toString
        var mi = 0
        while (mi < pats.length) {
          seq = seq.replace(pats(mi), reps(mi))
          seq = seq.replace(pats(mi), reps(mi))
          mi += 1
        }
        var d = 0L
        var si = 0
        while (si < seq.length) {
          if (seq.charAt(si) == Bpe.DelimCh) d += 1L
          si += 1
        }
        total += d - 1L
      }
      wi += 1
    }
    total
  }

  /** One-pass coverage rebuild for the substring-dedup pair
    * ([[Dedup.dedupSubstringsKeepFirst]] / [[Dedup
    * .dedupSubstringsApply]]): token i (0-based over `split(text,
    * " ", -1)`) is removed iff some duplicate window [s, s+k) from
    * the SORTED-ascending `starts` covers it. Two-pointer walk —
    * each start is consumed once, each token tested against the
    * running coverage end — O(tokens + windows), replacing the HOF
    * `exists` scan that paid O(tokens · windows) (quadratic on a
    * near-fully-duplicated long doc: every token scanned every
    * window start). Returns (text_clean, n_tokens, n_removed);
    * text_clean joins the kept tokens with " ", bit-identical to
    * `array_join(filter(...))` over the same coverage set. */
  def substrRebuild(text: UTF8String, starts: ArrayData,
                    k: Int): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val m = starts.numElements()
    val sb = new java.lang.StringBuilder(text.numBytes())
    var removed = 0L
    var kept = 0
    var end = -1L
    var j = 0
    var i = 0
    while (i < toks.length) {
      while (j < m && starts.getInt(j) <= i) {
        val e = starts.getInt(j).toLong + k
        if (e > end) end = e
        j += 1
      }
      if (i < end) removed += 1L
      else {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    InternalRow(UTF8String.fromString(sb.toString),
      toks.length.toLong, removed)
  }
}

/** One-pass stopword counts in [[TextAnalysis.LangPriority]] order:
  * the composable form runs one interpreted `filter(tokens, …,
  * array_contains)` lambda PER LANGUAGE per row; this walks the token
  * list once against precomputed hash sets. Occurrence counts (not
  * distinct), matching the Column form. */
object StopwordFns {
  private val sets: Array[java.util.HashSet[String]] =
    TextAnalysis.LangPriority.map { l =>
      val s = new java.util.HashSet[String]()
      TextAnalysis.Stopwords(l).foreach(s.add)
      s
    }.toArray

  def counts(text: UTF8String): GenericArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = sets.length
    val out = new Array[Int](n)
    var i = 0
    while (i < toks.length) {
      var l = 0
      while (l < n) {
        if (sets(l).contains(toks(i))) out(l) += 1
        l += 1
      }
      i += 1
    }
    new GenericArrayData(out.map(_.toLong))
  }
}

case class StopwordCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    StopwordFns.counts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.StopwordFns.counts($c)")
  override protected def withNewChildInternal(c: Expression)
      : StopwordCountsExpr = copy(c)
  override def prettyName: String = "stopword_counts"
}

case class MinhashSigsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.minhashSigs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.minhashSigs($c)")
  override protected def withNewChildInternal(c: Expression): MinhashSigsExpr =
    copy(c)
  override def prettyName: String = "minhash_sigs"
}

case class Simhash16Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashFns.simhash16(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.simhash16($c)")
  override protected def withNewChildInternal(c: Expression): Simhash16Expr =
    copy(c)
  override def prettyName: String = "simhash16"
}

case class Simhash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashFns.simhash60(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): Simhash60Expr =
    copy(c)
  override def prettyName: String = "simhash60"
}

case class DsirBucketsExpr(child: Expression, m: Int)
    extends UnaryExpression {
  require(m >= 2, s"m=$m")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.dsirBuckets(v.asInstanceOf[UTF8String], m)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.dsirBuckets($c, $m)")
  override protected def withNewChildInternal(c: Expression): DsirBucketsExpr =
    copy(child = c)
  override def prettyName: String = "dsir_buckets"
}

case class NgramFpStringsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"bad n-gram order $n")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fp", LongType, nullable = false),
    StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.ngramFpStrings(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.TextHashFns.ngramFpStrings($c, $n)")
  override protected def withNewChildInternal(
      c: Expression): NgramFpStringsExpr = copy(child = c)
  override def prettyName: String = "ngram_fp_strings"
}

case class HashEmbedExpr(child: Expression, d: Int)
    extends UnaryExpression {
  require(d >= 2 && (d & (d - 1)) == 0, s"d=$d must be a power of two")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.hashEmbed(v.asInstanceOf[UTF8String], d)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.hashEmbed($c, $d)")
  override protected def withNewChildInternal(c: Expression): HashEmbedExpr =
    copy(child = c)
  override def prettyName: String = "hash_embed"
}

/** Unit-normalized hashed embedding ([[TextHashFns.hashEmbedUnit]]);
  * nullable — an all-cancelled count vector has no direction. The
  * null is produced by the kernel, so `nullSafeCodeGen` + a null
  * check mirror [[graft.ops.VecCosineOrNull]]'s pattern. */
case class HashEmbedUnitExpr(child: Expression, d: Int)
    extends UnaryExpression {
  require(d >= 2 && (d & (d - 1)) == 0, s"d=$d must be a power of two")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHashFns.hashEmbedUnit(v.asInstanceOf[UTF8String], d)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("unitArr")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $tmp =
         |  graft.ops.TextHashFns.hashEmbedUnit($c, $d);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): HashEmbedUnitExpr =
    copy(child = c)
  override def prettyName: String = "hash_embed_unit"
}

case class ScriptProfileExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(
    TextHashFns.ScriptNames.map(n =>
      StructField(s"n_$n", LongType, nullable = false)).toSeq :+
      StructField("dominant", StringType, nullable = false))
  override def nullSafeEval(v: Any): Any =
    TextHashFns.scriptProfile(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.scriptProfile($c)")
  override protected def withNewChildInternal(c: Expression): ScriptProfileExpr =
    copy(c)
  override def prettyName: String = "script_profile"
}

case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    TextHashFns.charEntropy(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.charEntropy($c)")
  override protected def withNewChildInternal(c: Expression): CharEntropyExpr =
    copy(c)
  override def prettyName: String = "char_entropy"
}

case class DsirWeightExpr(child: Expression, m: Int, ratios: Seq[Double])
    extends UnaryExpression {
  require(ratios.length == m, s"need $m ratios, got ${ratios.length}")
  override def dataType: DataType = StructType(Seq(
    StructField("log_w", DoubleType, nullable = false),
    StructField("n_feats", LongType, nullable = false)))
  @transient private lazy val packed = ratios.toArray
  override def nullSafeEval(v: Any): Any =
    TextHashFns.dsirWeight(v.asInstanceOf[UTF8String], m, packed)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ratios", packed, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.TextHashFns.dsirWeight($c, $m, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): DsirWeightExpr =
    copy(child = c)
  override def prettyName: String = "dsir_weight"
}

/** One-pass winnowing anchors ([[TextHashFns.winnowAnchors]]). */
case class WinnowAnchorsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2 && w >= 1, s"bad (k=$k, w=$w)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.winnowAnchors(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.TextHashFns.winnowAnchors($c, $k, $w)")
  override protected def withNewChildInternal(
      c: Expression): WinnowAnchorsExpr = copy(child = c)
  override def prettyName: String = "winnow_anchors"
}

/** Fused per-doc BPE piece count ([[TextHashFns.bpePieceCount]]) for
  * a fitted merge list — the tokenizer-apply hot path of the packing
  * layout. Merges ride the plan as reference objects (model-sized:
  * the learned merge table). */
case class BpePieceCountExpr(child: Expression,
                             merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val pats =
    merges.map { case (a, b) => s"${Bpe.Delim}$a${Bpe.Delim}$b${Bpe.Delim}" }
      .toArray
  @transient private lazy val reps =
    merges.map { case (a, b) => s"${Bpe.Delim}$a$b${Bpe.Delim}" }.toArray
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashFns.bpePieceCount(v.asInstanceOf[UTF8String], pats, reps)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("bpePats", pats, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeReps", reps, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.TextHashFns.bpePieceCount($c, $pRef, $rRef)")
  }
  override protected def withNewChildInternal(
      c: Expression): BpePieceCountExpr = copy(child = c)
  override def prettyName: String = "bpe_piece_count"
}

/** Fused substring-dedup rebuild ([[TextHashFns.substrRebuild]]):
  * `right` MUST be a sorted-ascending array<int> of duplicate-window
  * starts (the producers guarantee it — `sort_array(collect_set)` in
  * keep-first, an ascending `sequence` filter in apply). */
case class SubstrRebuildExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 2, s"substring width $k too small")
  override def dataType: DataType = StructType(Seq(
    StructField("text_clean", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def nullSafeEval(t: Any, s: Any): Any =
    TextHashFns.substrRebuild(t.asInstanceOf[UTF8String],
      s.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) =>
      s"graft.ops.TextHashFns.substrRebuild($t, $s, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SubstrRebuildExpr =
    copy(left = l, right = r)
  override def prettyName: String = "substr_rebuild"
}

/** Fused content-defined chunking ([[TextHashFns.cdcChunks]]) —
  * array<struct<len int, fp long>> per doc; one compiled pass
  * replaces the O(n·W) interpreted HOF column spec. */
case class CdcChunksExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("len", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.cdcChunks(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.cdcChunks($c)")
  override protected def withNewChildInternal(
      c: Expression): CdcChunksExpr = copy(child = c)
  override def prettyName: String = "cdc_chunks"
}

case class NgramFpsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n=$n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashFns.ngramFps(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextHashFns.ngramFps($c, $n)")
  override protected def withNewChildInternal(c: Expression): NgramFpsExpr =
    copy(child = c)
  override def prettyName: String = "ngram_fps"
}

object TextHashExpressions {
  def minhashSigs(text: Column): Column =
    bridge.toColumn(MinhashSigsExpr(bridge.toExpression(text)))
  def ngramFps(text: Column, n: Int): Column =
    bridge.toColumn(NgramFpsExpr(bridge.toExpression(text), n))
  def ngramFpStrings(text: Column, n: Int): Column =
    bridge.toColumn(NgramFpStringsExpr(bridge.toExpression(text), n))
  def dsirBuckets(text: Column, m: Int): Column =
    bridge.toColumn(DsirBucketsExpr(bridge.toExpression(text), m))
  def dsirWeight(text: Column, m: Int, ratios: Seq[Double]): Column =
    bridge.toColumn(DsirWeightExpr(bridge.toExpression(text), m, ratios))
  def hashEmbed(text: Column, d: Int): Column =
    bridge.toColumn(HashEmbedExpr(bridge.toExpression(text), d))
  def hashEmbedUnit(text: Column, d: Int): Column =
    bridge.toColumn(HashEmbedUnitExpr(bridge.toExpression(text), d))
  def charEntropy(text: Column): Column =
    bridge.toColumn(CharEntropyExpr(bridge.toExpression(text)))
  def scriptProfile(text: Column): Column =
    bridge.toColumn(ScriptProfileExpr(bridge.toExpression(text)))
  def simhash16(text: Column): Column =
    bridge.toColumn(Simhash16Expr(bridge.toExpression(text)))
  def simhash60(text: Column): Column =
    bridge.toColumn(Simhash60Expr(bridge.toExpression(text)))
  def stopwordCounts(text: Column): Column =
    bridge.toColumn(StopwordCountsExpr(bridge.toExpression(text)))
  def substrRebuild(text: Column, starts: Column, k: Int): Column =
    bridge.toColumn(SubstrRebuildExpr(bridge.toExpression(text),
      bridge.toExpression(starts), k))
  def bpePieceCount(text: Column, merges: Seq[(String, String)]): Column =
    bridge.toColumn(BpePieceCountExpr(bridge.toExpression(text), merges))
  def winnowAnchors(text: Column, k: Int, w: Int): Column =
    bridge.toColumn(WinnowAnchorsExpr(bridge.toExpression(text), k, w))

  def cdcChunks(text: Column): Column =
    bridge.toColumn(CdcChunksExpr(bridge.toExpression(text)))

  def wordPieceMaxMatch(tok: Column, vocab: Map[String, Long],
                        mod: Long): Column =
    bridge.toColumn(WordPieceMaxMatchExpr(bridge.toExpression(tok),
      vocab, mod))
}

/** Static kernel for [[WordPieceMaxMatchExpr]] (r14 optimization
  * round): greedy longest-match-first WordPiece segmentation of one
  * token in ONE tight loop inside whole-stage codegen. The former
  * column form — an `aggregate` fold over character positions with a
  * nested `transform` + inner `aggregate` per step — evaluated
  * through Catalyst's interpreted lambda machinery, rebuilding the
  * candidate array (substr + map lookup per candidate length) per
  * position; that interpreted walk was the entire apply-pass cost of
  * q_text_wordpiece_apply. Exact parity with the spec form is pinned
  * by WordPieceSpec: substrings via the same UTF8String.substringSQL
  * that Column.substr lowers to, lookups against the same
  * (Mark-prefixed) piece strings, the same descending-length
  * first-match rule, the same BERT whole-word-UNK semantics, and the
  * same position-weighted digest fold pmod(dg + np·h, mod). */
object WordPieceFns {
  def maxMatch(tok: UTF8String,
               vocab: java.util.HashMap[UTF8String, java.lang.Long],
               maxLen: Int, mod: Long, mark: UTF8String): InternalRow = {
    val len = tok.numChars()
    var pos = 1
    var np = 0
    var unk = false
    var dg = 0L
    while (pos <= len && !unk) {
      var l = math.min(maxLen, len - pos + 1)
      var matched = false
      while (l >= 1 && !matched) {
        val sub = tok.substringSQL(pos, l)
        val key = if (pos > 1) UTF8String.concat(mark, sub) else sub
        val h = vocab.get(key)
        if (h != null) {
          np += 1
          dg = java.lang.Math.floorMod(dg + np.toLong * h.longValue(), mod)
          pos += l
          matched = true
        } else l -= 1
      }
      if (!matched) unk = true
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](np, unk, dg))
  }
}

/** Greedy MaxMatch segmentation state of one token against a LITERAL
  * vocabulary — struct (np, unk, dg), the native kernel behind
  * [[WordPiece.maxMatch]] (the composable HOF form survives as
  * `WordPiece.maxMatchSpec`, its executable spec). */
case class WordPieceMaxMatchExpr(child: Expression,
                                 vocab: Map[String, Long], mod: Long)
    extends UnaryExpression {
  require(vocab.nonEmpty, "empty vocabulary")
  // the HOF spec derives the candidate-length ceiling from the RAW
  // surface length (mark stripped) — same formula here
  @transient private lazy val maxLen = vocab.keys.map(s =>
    if (s.startsWith(WordPiece.Mark)) s.length - 1 else s.length).max
  @transient private lazy val packed = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      vocab.size * 2)
    vocab.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), java.lang.Long.valueOf(v)) }
    m
  }
  @transient private lazy val markU8 = UTF8String.fromString(WordPiece.Mark)
  override def dataType: DataType = StructType(Seq(
    StructField("np", IntegerType, nullable = false),
    StructField("unk", BooleanType, nullable = false),
    StructField("dg", LongType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    WordPieceFns.maxMatch(v.asInstanceOf[UTF8String], packed, maxLen,
      mod, markU8)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("wpVocab", packed, "java.util.HashMap")
    val mRef = ctx.addReferenceObj("wpMark", markU8,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.WordPieceFns.maxMatch($c, $vRef, $maxLen, ${mod}L, $mRef)")
  }
  override protected def withNewChildInternal(
      c: Expression): WordPieceMaxMatchExpr = copy(child = c)
  override def prettyName: String = "wordpiece_maxmatch"
}
