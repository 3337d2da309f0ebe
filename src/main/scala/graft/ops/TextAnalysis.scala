package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * single-scan Column expressions (whole-stage codegen'd, no UDFs, no
  * shuffle) — at 100 TB each is a map-only pass over the corpus.
  *
  * Every operator has a deterministic, DuckDB-checkable definition;
  * the `...Sql` builders in [[graft.OracleQueries]] mirror these
  * formulas exactly.
  */
object TextAnalysis {

  /** Portable 60-bit token hash: first 15 hex digits of md5, parsed as
    * an unsigned integer. Chosen because both Spark (`conv`) and
    * standard SQL engines (hex cast) compute it identically — the
    * foundation for cross-engine-verifiable MinHash/SimHash. */
  def tokenHash(token: Column): Column =
    conv(substring(md5(token), 1, 15), 16, 10).cast("long")

  val TokenHashSql: String => String = col =>
    s"(('0x' || substr(md5($col), 1, 15))::BIGINT)"

  /** Whitespace tokens (the corpus convention: single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Canonical text normalization (the pre-dedup cleaner): lowercase,
    * non-alphanumerics → space, runs of spaces collapsed, trimmed.
    * Pure codegen'd column functions; DuckDB equivalent needs the 'g'
    * regex flag (its `regexp_replace` replaces only the FIRST match by
    * default, Spark's replaces all). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  val NormalizeSql: String => String = col =>
    s"trim(regexp_replace(regexp_replace(lower($col), " +
      "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Whitespace token count by pure arithmetic (length difference) —
    * identical semantics in any engine, no regex dialects involved.
    * `translate`, not `regexp_replace`: removing a literal character
    * needs no regex engine pass (this sits inside every quality
    * feature). */
  def wordCount(text: Column): Column =
    length(text) - length(translate(text, " ", "")) + lit(1)

  /** BPE-ish token count: alpha runs, single digits, or single
    * non-alphanumeric marks — the standard coarse proxy for subword
    * token counts. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  def bpeishCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny by design. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))
  /** Deterministic argmax priority when scores tie. */
  val LangPriority: Seq[String] = Seq("en", "de", "fr", "es", "zh")

  /** Per-language stopword occurrence count. Native one-pass kernel
    * over all languages ([[StopwordCountsExpr]]); [[stopwordCountSpec]]
    * is the composable form it is equivalence-tested against. */
  def stopwordCount(text: Column, lang: String): Column = {
    require(LangPriority.contains(lang),
      s"unknown language '$lang' (known: ${LangPriority.mkString(", ")})")
    element_at(TextHashExpressions.stopwordCounts(text),
      LangPriority.indexOf(lang) + 1)
  }

  /** Composable filter/array_contains form (executable spec). */
  def stopwordCountSpec(text: Column, lang: String): Column =
    size(filter(tokens(text), t =>
      array_contains(lit(Stopwords(lang).toArray), t)))

  /** Predicted language: the highest-scoring stopword list, ties broken
    * by [[LangPriority]]; all-zero scores → "und". */
  def langId(text: Column): Column = {
    val scores = LangPriority.map(l => l -> stopwordCount(text, l))
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  /** Punctuation ratio over non-space characters (translate for the
    * literal-char removal — no regex pass; this sits inside every
    * quality feature). */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9 ]")).cast("double") /
      greatest(length(translate(text, " ", "")).cast("double"), lit(1.0))

  def stopwordRatio(text: Column): Column =
    LangPriority.map(l => stopwordCount(text, l)).reduce(_ + _).cast("double") /
      wordCount(text).cast("double")

  /** Gopher-style quality-rule thresholds (Rae et al. 2021, "Scaling
    * Language Models" §A1.1's word-count / mean-word-length / stopword
    * rules), with bounds adapted to this corpus's scale so each rule
    * genuinely discriminates. */
  val GopherMinWords = 25L
  val GopherMaxWords = 90L
  val GopherMinWordLen = 3.0
  val GopherMaxWordLen = 4.6
  val GopherMinStopRatio = 0.02

  /** Per-document Gopher rule evaluation: struct of the three signals,
    * per-rule pass flags, and the composite `keep`. Pure column
    * arithmetic over one row — no shuffle; a filter on `.keep` pushes
    * to the scan. Mean word length uses the corpus's single-space
    * convention (total word chars = length − (n_words − 1)), avoiding
    * a per-token lambda in the hot path. */
  def gopherFlags(text: Column): Column = {
    val nw = wordCount(text).cast("double")
    val mwl = (length(text).cast("double") - (nw - lit(1.0))) / nw
    val sr = stopwordRatio(text)
    val passLen = nw >= lit(GopherMinWords.toDouble) &&
      nw <= lit(GopherMaxWords.toDouble)
    val passWl = mwl >= lit(GopherMinWordLen) && mwl <= lit(GopherMaxWordLen)
    val passStop = sr >= lit(GopherMinStopRatio)
    struct(nw.cast("long").as("n_words"), mwl.as("mean_wl"),
      sr.as("stop_ratio"), passLen.as("pass_len"), passWl.as("pass_wl"),
      passStop.as("pass_stop"),
      (passLen && passWl && passStop).as("keep"))
  }

  /** C4 cleaning rules (Raffel et al., "Exploring the Limits of
    * Transfer Learning…", JMLR 2020, §2.2): line filter thresholds
    * shared with [[C4FlagsSql]]. */
  val C4MinLineWords = 5
  val C4MinKeptLines = 3

  /** C4 line-and-page filter: keep a LINE iff (trimmed) it ends in
    * terminal punctuation (. ! ? ") and has ≥ 5 words; keep the PAGE
    * iff ≥ 3 lines survive and it contains no 'lorem ipsum' /
    * '{' / 'javascript' marker (case-insensitive). Returns
    * struct(cleaned, kept_lines, total_lines, keep) where `cleaned`
    * rejoins surviving lines with \n. Pure per-row column arithmetic
    * (one split, HOF filter over the line array) — map-only, no
    * shuffle. */
  def c4Flags(text: Column): Column = {
    val lines = split(text, "\n")
    def keepLine(l: Column): Column = {
      val t = trim(l)
      // word count under the corpus-wide single-space convention
      // (like wordCount / featWl): consecutive spaces would inflate
      // the split size and soften the >= C4MinLineWords floor —
      // normalize whitespace upstream (Html.extractText already
      // does) before applying C4 rules to raw scraped text
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(t, " ")) >= lit(C4MinLineWords)
    }
    val kept = filter(lines, keepLine _)
    val lowered = lower(text)
    val clean = !lowered.contains("lorem ipsum") && !text.contains("{") &&
      !lowered.contains("javascript")
    struct(
      array_join(kept, "\n").as("cleaned"),
      size(kept).cast("long").as("kept_lines"),
      size(lines).cast("long").as("total_lines"),
      (size(kept) >= lit(C4MinKeptLines) && clean).as("keep"))
  }

  /** DuckDB rendering of [[c4Flags]] — same split, same trim, same
    * last-char test, same word-count convention, so cleaned strings
    * and flags agree byte-for-byte. Yields a struct-shaped set of
    * SQL fragments keyed like the struct fields. */
  def C4FlagsSql(t: String): Map[String, String] = {
    val keepL = "x -> right(trim(x), 1) IN ('.', '!', '?', '\"') AND " +
      s"len(string_split(trim(x), ' ')) >= $C4MinLineWords"
    val kept = s"list_filter(string_split($t, chr(10)), $keepL)"
    val clean = s"NOT contains(lower($t), 'lorem ipsum') AND " +
      s"NOT contains($t, '{') AND NOT contains(lower($t), 'javascript')"
    Map(
      // coalesce: DuckDB's array_to_string([]) is NULL where Spark's
      // array_join([]) is '' — an empty page must clean to ''
      "cleaned" -> s"coalesce(array_to_string($kept, chr(10)), '')",
      "kept_lines" -> s"len($kept)",
      "total_lines" -> s"len(string_split($t, chr(10)))",
      "keep" -> s"(len($kept) >= $C4MinKeptLines AND $clean)")
  }

  /** Composite quality score in [0,1]: length band + low punctuation +
    * stopword presence — the standard cheap-heuristics recipe. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punct = punctRatio(text)
    val stop = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    least(greatest(lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punct) +
      lit(0.3) * stop, lit(0.0)), lit(1.0))
  }

  /** Rolling-hash fingerprint of the first `prefixLen` characters:
    * fold (acc·31 + ascii(c)) mod 1e9+7 — a polynomial fingerprint
    * computable in one pass in any engine. */
  def fingerprint(text: Column, prefixLen: Int = 64): Column = {
    val codes = transform(
      filter(split(substring(text, 1, prefixLen), ""), c => c =!= ""),
      c => ascii(c).cast("long"))
    aggregate(codes, lit(0L),
      (acc, c) => (acc * lit(31L) + c) % lit(1000000007L))
  }

  /** Overlapping token-window chunking (the RAG / context-window
    * preparation step): document → chunks of `window` tokens whose
    * starts step by `stride` (stride < window ⇒ overlap), the last
    * chunk exactly reaching the end. Chunk count is
    * ⌈max(n−window, 0)/stride⌉ + 1, so every doc yields ≥ 1 chunk
    * and no chunk starts past the end.
    *
    * Returns (idCol, chunk_id, chunk, n_tok). Pure per-row map +
    * explode — output rows ≈ n/stride per doc, no shuffle; the
    * chunk arithmetic is exact integer math shared
    * with any external engine's list-slice rendering. */
  def chunks(df: DataFrame, textCol: String, idCol: String,
             window: Int, stride: Int,
             keep: Seq[String] = Nil): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"bad chunk spec window=$window stride=$stride")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = (floor((greatest(n - lit(window), lit(0)) +
      lit(stride - 1)).cast("double") / lit(stride.toDouble)) + lit(1))
      .cast("int")
    val s = col("chunk_id") * lit(stride)
    val carried = keep.map(col)
    df.select(col(idCol) +: carried :+ toks.as("__toks") :+ n.as("__n") :+
        explode(sequence(lit(0), nChunks - lit(1))).as("chunk_id"): _*)
      .select(col(idCol) +: carried :+ col("chunk_id") :+
        array_join(slice(col("__toks"), s + lit(1), lit(window)), " ")
          .as("chunk") :+
        least(lit(window), col("__n") - s).cast("long").as("n_tok"): _*)
  }

  // ----------------------------------------------------------- PII

  /** PII patterns restricted to the regex-dialect intersection of
    * Java (Spark) and RE2 (DuckDB, Go, Rust engines): character
    * classes, quantifiers, alternation — no lookaround, no `\d`
    * shorthand — so every engine finds the same spans. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // the negated class must exclude \n and \t as well as space — a
  // bare [^ ]+ matches ACROSS line breaks, merging consecutive-line
  // URLs into one match and swallowing following-line prose into
  // scrubPii's <URL> replacement (\n / \t escapes are valid in both
  // the Java and RE2 class dialects)
  val UrlRe = "https?://[^ \\n\\t]+"
  val PhoneRe = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val DigitRunRe = "[0-9]{7,}"

  /** Counts are over the ORIGINAL text, independently per pattern
    * (a digit run inside a URL counts as both). Integer-exact, so
    * cross-engine comparison is trivial. */
  def emailCount(text: Column): Column =
    regexp_count(text, lit(EmailRe)).cast("long")
  def urlCount(text: Column): Column =
    regexp_count(text, lit(UrlRe)).cast("long")
  def phoneCount(text: Column): Column =
    regexp_count(text, lit(PhoneRe)).cast("long")
  def ipv4Count(text: Column): Column =
    regexp_count(text, lit(Ipv4Re)).cast("long")
  def digitRunCount(text: Column): Column =
    regexp_count(text, lit(DigitRunRe)).cast("long")

  /** Redact PII in pipeline order URL → email → phone → IPv4 →
    * digit-run: a URL containing an email-like or numeric substring
    * becomes one `<URL>` token rather than nested redactions, and
    * the structured numeric forms (phone, IP) claim their spans
    * before the generic digit-run sweep. Pure codegen'd string ops —
    * a map-only pass at any scale. */
  /** Maximal digit runs of `text` with length in [minLen, maxLen] —
    * the card-number candidate extractor (maximal-run semantics, so
    * a 20-digit run is NOT a 19-digit candidate; identical to the
    * oracle's regexp_extract_all + length filter). */
  def digitRuns(text: Column, minLen: Int, maxLen: Int): Column =
    filter(call_function("regexp_extract_all", text, lit("[0-9]+"),
        lit(0)),
      r => length(r) >= minLen && length(r) <= maxLen)

  /** Luhn checksum validity of a digit-run string (ISO/IEC 7812 —
    * the check every real payment-card number passes): from the
    * right, every second digit doubles (minus 9 past 9), and the sum
    * must be ≡ 0 (mod 10). The PII discipline's precision upgrade: a
    * 16-digit run that FAILS Luhn is a serial number or a hash, not
    * a card — scrubbing on the regex alone over-redacts ~90% of
    * random digit runs. Pure integer column arithmetic, identical in
    * any engine. */
  def luhnValid(run: Column): Column = {
    val ds = array_remove(split(run, ""), "")
    val n = size(ds)
    val s = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = element_at(ds, i).cast("int")
      val dd = when(pmod(n - i, lit(2)) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      acc + dd
    })
    pmod(s, lit(10)) === 0
  }

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, UrlRe, "<URL>"),
            EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>"),
      DigitRunRe, "<NUM>")

  /** DuckDB rendering of [[scrubPii]] (needs the 'g' flag — DuckDB
    * replaces only the first match by default; single-quoted SQL
    * strings pass backslashes through verbatim, so the pattern text
    * is identical to the Java-side regex). */
  def ScrubPiiSql(col: String): String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace($col, " +
      s"'$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g'), " +
      s"'$PhoneRe', '<PHONE>', 'g'), '$Ipv4Re', '<IP>', 'g'), " +
      s"'$DigitRunRe', '<NUM>', 'g')"

  // ---------------------------------------------------- vocabulary

  /** Top-`topV` vocabulary with term and document frequencies,
    * pruned at `minCount` total occurrences. Ties at the cutoff break
    * on the token hash, so the result is deterministic on any engine.
    *
    * Scale design — strings never shuffle: tokens reduce to 60-bit
    * fingerprints before the two hash aggregates ((hash, doc) → tf,
    * then hash → (tf, df), both map-side partial), top-V is a
    * TakeOrdered over the pruned (hash-cardinality-sized) table, and
    * a second map-only corpus pass probes the BROADCAST top-V hash
    * set to recover the spellings (min() resolves an astronomically
    * unlikely fingerprint collision deterministically). At 100 TB the
    * shuffled bytes are 16/row vs full token text, the same trade
    * [[Dedup]] makes for n-gram fingerprints. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minCount: Long, topV: Int,
                 cache: DataFrame => DataFrame = identity): DataFrame = {
    require(topV > 0, s"bad vocabulary size $topV")
    // `cache` wraps the token-hash explode, which BOTH the tf/df
    // aggregate chain and the top-V spelling join consume — uncached
    // the md5 token kernel runs over the corpus twice (pass a persist
    // hook for batch queries; identity keeps streams legal)
    val hashed = cache(df.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col("__id"), col("__tok"), tokenHash(col("__tok")).as("__th")))
    val perDoc = hashed.groupBy("__th", "__id")
      .agg(count(lit(1)).as("__c"))
    val byTerm = perDoc.groupBy("__th")
      .agg(sum(col("__c")).as("tf"), count(lit(1)).as("df"))
      .where(col("tf") >= minCount)
    val top = byTerm.orderBy(col("tf").desc, col("__th").asc).limit(topV)
    val names = hashed.join(broadcast(top.select("__th")), Seq("__th"))
      .groupBy("__th").agg(min(col("__tok")).as("token"))
    top.join(names, Seq("__th")).select(col("token"), col("tf"), col("df"))
  }

  /** CCNet-style LINE-level dedup (Wenzek et al. 2020 §3.1: drop
    * every line that appears — trimmed — in more than `maxDf`
    * documents; boilerplate headers/footers/cookie banners vanish
    * while unique prose survives). Returns the input plus `cleaned`
    * (surviving lines rejoined with \n), `kept_lines`, `total_lines`.
    *
    * Scale design — line TEXT never shuffles: lines reduce to the
    * portable 60-bit [[tokenHash]] fingerprint right after the
    * per-row split, the document frequency is ONE (fp → distinct-doc)
    * hash aggregate over 16-byte rows, and the drop-set joins back to
    * the doc grain as a (doc, positions) list bounded by the doc's
    * own line count. Reassembly is a per-row higher-order filter over
    * the original split — no corpus-wide string movement, no window.
    * At 100 TB the shuffled bytes are (fp, id, pos) triples, the same
    * trade [[Dedup]] makes for n-gram fingerprints. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                maxDf: Int): DataFrame = {
    require(maxDf >= 1, s"bad maxDf $maxDf")
    val lines = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .select(col("__id"), col("__pos"),
        tokenHash(trim(col("__line"))).as("__fp"))
    val frequent = lines
      // an EMPTY trimmed line is never boilerplate: paragraph
      // separators appear in every formatted doc, so without this
      // exclusion the blank-line fingerprint crosses maxDf corpus-wide
      // and every paragraph break would be stripped from every doc
      // (CCNet dedups content lines, not structure); the fp-constant
      // compare is the same exclusion the DuckDB oracle applies
      .where(col("__fp") =!= tokenHash(lit("")))
      .groupBy("__fp")
      .agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") > maxDf)
    val dropIdx = lines.join(frequent, "__fp")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drop"))
    df.join(dropIdx, df(idCol) === dropIdx("__id"), "left")
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lines"), (_, i) =>
        !coalesce(array_contains(col("__drop"), i), lit(false))))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .withColumn("total_lines", size(col("__lines")).cast("long"))
      .withColumn("kept_lines", size(col("__kept")).cast("long"))
      .drop("__id", "__lines", "__kept", "__drop")
  }

  /** The FIT side of incremental line-dedup: the trimmed-line
    * fingerprints with document frequency > maxDf, collected to the
    * driver. Model-sized by construction (the boilerplate set — the
    * same budget class as Bloom words, centroids, and codebooks);
    * callers feed it to [[lineDedupApply]] for new batches/streams.
    * At a scale where the set outgrows a broadcast literal, prefix it
    * with a [[Bloom]] prefilter and keep the exact set behind it. */
  def frequentLineFps(df: DataFrame, textCol: String, idCol: String,
                      maxDf: Int): Array[Long] = {
    require(maxDf >= 1, s"bad maxDf $maxDf")
    df.select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col("__id"), tokenHash(trim(col("__line"))).as("__fp"))
      // empty trimmed lines are structure, not boilerplate — same
      // exclusion as [[lineDedup]], so a fitted set never contains
      // the blank-line fingerprint and [[lineDedupApply]] preserves
      // paragraph breaks on every future batch/stream
      .where(col("__fp") =!= tokenHash(lit("")))
      .groupBy("__fp").agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") > maxDf)
      .select("__fp").collect().map(_.getLong(0)).sorted
  }

  /** The APPLY side: drop every line whose trimmed fingerprint is in
    * the fitted boilerplate set — a pure per-row map (one split, one
    * higher-order filter against a plan-constant array), so it
    * composes with any curation pipeline. Same output columns as
    * [[lineDedup]]. */
  def lineDedupApply(df: DataFrame, textCol: String,
                     frequentFps: Array[Long]): DataFrame = {
    val fps = lit(frequentFps)
    df.withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lines"), l =>
        !array_contains(fps, tokenHash(trim(l)))))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .withColumn("total_lines", size(col("__lines")).cast("long"))
      .withColumn("kept_lines", size(col("__kept")).cast("long"))
      .drop("__lines", "__kept")
  }

  /** Normalized host of a URL: lowercased authority with any
    * `www.` prefix stripped — the key for URL/domain-level curation.
    * Regex stays in the Java∩RE2 dialect so every engine agrees. */
  // same \n/\t exclusion as [[UrlRe]]: the authority must not run
  // across a line break
  val UrlHostRe = "https?://([^/ \\n\\t]+)"
  def urlHost(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, UrlHostRe, 1)),
      "^www\\.", "")
  val UrlHostSql: String => String = col =>
    s"regexp_replace(lower(regexp_extract($col, '$UrlHostRe', 1)), " +
      "'^www\\.', '')"
}
