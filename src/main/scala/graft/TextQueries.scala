package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, Multimodal, NgramLm, Ranking, Sampling, TextAnalysis, Url}
import QueryKit._

/** The q_text_* oracle queries: language id, quality signals, tokenizers,
  * n-gram statistics, contamination, PII and line dedup. */
object TextQueries {

  /** SCALE-ADAPTIVE pin (r15, guide §1.2/§5): persist a multi-consumer
    * frame only when the source relation is big enough that re-running
    * its subtree per consumer costs more than the materialization
    * barrier. Measured crossover on q_text_pmi (min-of-3
    * alternating, plans/r15/pmi_ab_100x.log): at sf0.1 (0.6 MB docs) ReuseExchange reuse beats
    * the pin 2.1 vs 2.7 s; at the 100× fixture (58 MB) the pin wins
    * 9.4 vs 11.9 s — runtime exchange reuse stops covering the count
    * tables once AQE re-plans the bigger subtrees. Threshold is
    * env-parameterised with a local default (32 MB of source parquet)
    * that keeps the sf0.1 bench regime unchanged; at warehouse scale
    * every corpus is far above it, which is the direction the 100×
    * measurement says is right. */
  private lazy val PinAboveBytes: Long =
    graft.ops.PlanHints.bytesFromEnv("SPARK_GRAFT_PIN_ABOVE_BYTES", 32L << 20)
  private def pinIfBig(src: DataFrame)(df: DataFrame): DataFrame =
    if (src.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(PinAboveBytes)) pin(df) else df

  /** Multi-pattern blocklist filter ([[graft.ops.Blocklist]]): ONE
    * Aho–Corasick pass per document evaluates the whole pattern list —
    * O(|text| + matches) per row, independent of pattern count, where
    * the naive scan is O(|text|·|patterns|). Per-pattern semantics are
    * leftmost non-overlapping occurrence counts, which is exactly what
    * the oracle's `replace`-length trick computes, so the count matrix
    * pins cross-engine. The digest weights counts by (pid+1) to pin
    * WHICH pattern hit, not just how often. */
  private val textBlocklist = Q("q_text_blocklist",
    (s, d) => {
      val c = graft.ops.Blocklist.matchCounts(col("text"))
      val m = aggregate(col("c"), lit(0L), (a, v) => a + v)
      val dg = aggregate(
        zip_with(col("c"), sequence(lit(1), size(col("c"))),
          (x, i) => x * i.cast("long")),
        lit(0L), (a, v) => a + v)
      docs(s, d).select(col("source"), c.as("c"))
        .select(col("source"), m.as("m"), dg.as("dg"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_blocked"),
          sum(col("m")).as("n_matches"),
          sum(col("dg")).as("digest"))
        .orderBy("source")
    }, {
      val vals = graft.ops.BlocklistFns.Patterns.zipWithIndex
        .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
      s"WITH pats AS (SELECT * FROM (VALUES $vals) AS t(pid, pat)), " +
        "c AS (SELECT d.doc_id, d.source, p.pid, " +
        "(length(d.text) - length(replace(d.text, p.pat, ''))) " +
        "// length(p.pat) AS cnt FROM documents d CROSS JOIN pats p), " +
        "pd AS (SELECT doc_id, source, sum(cnt) AS m, " +
        "sum((pid + 1) * cnt) AS dg FROM c GROUP BY doc_id, source) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_blocked, " +
        "CAST(sum(m) AS BIGINT) AS n_matches, " +
        "CAST(sum(dg) AS BIGINT) AS digest " +
        "FROM pd GROUP BY source ORDER BY source"
    })

  /** License / copyright-notice detection + per-license data card
    * ([[graft.ops.License]] — the code-corpus curation stage the
    * Stack/RedPajama-style pipelines run on every repo file): SPDX
    * identifiers and distinctive notice lines detected in ONE
    * Aho–Corasick pass per document (the q_text_blocklist kernel
    * discipline, O(|text| + matches) independent of pattern count),
    * classified by fixed priority — SPDX tag > notice prose, two
    * different SPDX tags = conflict, bare copyright = copyright-only
    * — into a per-(source, license) manifest with a digest-pinned
    * doc set. The fixture plants every branch: each SPDX tag, each
    * notice family, a tag+notice agreement, a tag+notice
    * DISAGREEMENT (copy-pasted header signal, flagged not mislabeled),
    * a copyright-only line, unlicensed docs, and a sparse second-tag
    * conflict stripe (doc_id % 101 == 7). The oracle replays the
    * header formula, per-pattern replace-trick counts, and the
    * priority CASE; n_matches pins the full count matrix, doc_digest
    * pins WHICH docs landed in each license bucket. Scale: per-row
    * codegen'd kernel + one map-side-combined aggregate; no joins,
    * no shuffle of text. */
  private val textLicense = Q("q_text_license",
    (s, d) => {
      val hdr = element_at(array(
        lit("SPDX-License-Identifier: MIT"),
        lit("SPDX-License-Identifier: Apache-2.0"),
        lit("SPDX-License-Identifier: GPL-3.0-or-later"),
        lit("SPDX-License-Identifier: BSD-3-Clause\nRedistribution " +
          "and use in source and binary forms"),
        lit("Licensed under the Apache License, Version 2.0"),
        lit("Copyright (c) 2024 Example Corp.\nPermission is hereby " +
          "granted, free of charge"),
        lit("This program is free software: GNU General Public License"),
        lit("Redistribution and use in source and binary forms"),
        lit("Creative Commons Attribution 4.0 International"),
        lit("SPDX-License-Identifier: MIT\nGNU General Public License"),
        lit("")),
        (pmod(col("doc_id"), lit(11)) + 1).cast("int"))
      val extra = when(pmod(col("doc_id"), lit(101)) === 7,
        lit("\nSPDX-License-Identifier: Apache-2.0")).otherwise(lit(""))
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
        concat(hdr, extra, lit("\n"), col("text")).as("t"))
      // computeOnce: label/disagree/total all read the counts array —
      // collapsed, the AC kernel would re-run per reference
      val perDoc = d0
        .select(col("doc_id"), col("source"),
          graft.ops.PlanHints.computeOnce(
            graft.ops.License.matchCounts(col("t"))).as("c"))
        .select(col("doc_id"), col("source"),
          graft.ops.License.label(col("c")).as("license"),
          when(graft.ops.License.spdxNoticeDisagree(col("c")), 1L)
            .otherwise(0L).as("disagree"),
          aggregate(col("c"), lit(0L), (a, v) => a + v).as("m"))
      perDoc.groupBy("source", "license")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("disagree")).as("n_disagree"),
          sum(col("m")).as("n_matches"),
          sum(pmod(col("doc_id") * 131L + 7L, lit(CleanSumMod)))
            .as("doc_digest"))
        .orderBy("source", "license")
    }, {
      val cdefs = graft.ops.LicenseFns.Patterns.zipWithIndex.map {
        case (p, i) =>
          s"(length(t) - length(replace(t, '$p', ''))) // ${p.length} " +
            s"AS c$i"
      }.mkString(", ")
      val spdxCnt = (0 to 3).map(i =>
        s"CASE WHEN c$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val total = (0 to 10).map(i => s"c$i").mkString(" + ")
      "WITH h AS (SELECT doc_id, source, " +
        "['SPDX-License-Identifier: MIT', " +
        "'SPDX-License-Identifier: Apache-2.0', " +
        "'SPDX-License-Identifier: GPL-3.0-or-later', " +
        "'SPDX-License-Identifier: BSD-3-Clause' || chr(10) || " +
        "'Redistribution and use in source and binary forms', " +
        "'Licensed under the Apache License, Version 2.0', " +
        "'Copyright (c) 2024 Example Corp.' || chr(10) || " +
        "'Permission is hereby granted, free of charge', " +
        "'This program is free software: GNU General Public License', " +
        "'Redistribution and use in source and binary forms', " +
        "'Creative Commons Attribution 4.0 International', " +
        "'SPDX-License-Identifier: MIT' || chr(10) || " +
        "'GNU General Public License', " +
        "''][CAST(doc_id % 11 AS INT) + 1] || " +
        "CASE WHEN doc_id % 101 = 7 THEN chr(10) || " +
        "'SPDX-License-Identifier: Apache-2.0' ELSE '' END || " +
        "chr(10) || text AS t FROM documents), " +
        s"pc AS (SELECT doc_id, source, $cdefs FROM h), " +
        "lab AS (SELECT doc_id, source, " +
        s"CASE WHEN ($spdxCnt) >= 2 THEN 'conflict' " +
        "WHEN c0 > 0 THEN 'mit' WHEN c1 > 0 THEN 'apache-2.0' " +
        "WHEN c2 > 0 THEN 'gpl-3.0-or-later' " +
        "WHEN c3 > 0 THEN 'bsd-3-clause' " +
        "WHEN c4 > 0 THEN 'apache-2.0' WHEN c5 > 0 THEN 'mit' " +
        "WHEN c6 > 0 THEN 'gpl' WHEN c7 > 0 THEN 'bsd' " +
        "WHEN c8 > 0 THEN 'cc-by' " +
        "WHEN c9 > 0 OR c10 > 0 THEN 'copyright-only' " +
        "ELSE 'none' END AS license, " +
        s"CASE WHEN ($spdxCnt) = 1 AND (" +
        "(c0 > 0 AND (c4 > 0 OR c6 > 0 OR c7 > 0 OR c8 > 0)) OR " +
        "(c1 > 0 AND (c5 > 0 OR c6 > 0 OR c7 > 0 OR c8 > 0)) OR " +
        "(c2 > 0 AND (c4 > 0 OR c5 > 0 OR c7 > 0 OR c8 > 0)) OR " +
        "(c3 > 0 AND (c4 > 0 OR c5 > 0 OR c6 > 0 OR c8 > 0))) " +
        "THEN 1 ELSE 0 END AS disagree, " +
        s"$total AS m FROM pc) " +
        "SELECT source, license, count(*) AS n_docs, " +
        "CAST(sum(disagree) AS BIGINT) AS n_disagree, " +
        "CAST(sum(m) AS BIGINT) AS n_matches, " +
        s"CAST(sum((doc_id * 131 + 7) % $CleanSumMod) AS BIGINT) " +
        "AS doc_digest " +
        "FROM lab GROUP BY source, license ORDER BY source, license"
    })

  /** Per-document keyword extraction: top-3 tokens by TF·IDF where
    * idf is the INTEGER fixed point (N·2²⁰) div df — monotone in df,
    * exact in both engines, no transcendental-ordering hazard (ln-idf
    * would rank by a last-ulp-sensitive double). Tie-break on the
    * token hash. Scale shape: tf on the (doc, hash) grain (20-byte
    * rows, strings never shuffle), df from tf on the vocab grain,
    * df joined back on the post-agg hash key, ONE O(3)-state TopK
    * aggregate per doc (map-side partial, no rank window), source
    * attached by id join at the end. The per-doc digest
    * Σ rank·(hash mod 2⁴⁰) mod p pins keyword identity AND order. */
  private val textKeywords = Q("q_text_keywords",
    (s, d) => {
      val d0 = docs(s, d)
      val tf = d0.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"),
          TextAnalysis.tokenHash(col("tok")).as("th"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("th").agg(count(lit(1)).as("df"))
      val nd = d0.agg(count(lit(1)).as("nd"))
      val a = col("nd") * lit(1048576L)
      val scored = tf.join(dfc, "th").crossJoin(nd)
        .select(col("doc_id"), col("th"),
          (col("tf") * ((a - pmod(a, col("df"))) / col("df"))
            .cast("long")).as("score"))
      val perdoc = scored.groupBy("doc_id")
        .agg(graft.ops.TopK.topK(col("score").cast("double"),
          col("th"), 3).as("tk"))
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("j", "e")))
        .groupBy("doc_id")
        .agg(pmod(sum((col("j") + 1)
            * pmod(col("e.id"), lit(DigestMod))), lit(CleanSumMod))
          .as("digest"),
          max(when(col("j") === 0, col("e.score"))).cast("long")
            .as("top1"))
      perdoc.join(d0.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("digest")).as("kw_digest"),
          sum(col("top1")).as("top1_sum"))
        .orderBy("source")
    },
    "WITH tfh AS (SELECT doc_id, " +
      s"${TextAnalysis.TokenHashSql("tok")} AS th, count(*) AS tf " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents) GROUP BY doc_id, th), " +
      "dfc AS (SELECT th, count(*) AS df FROM tfh GROUP BY th), " +
      "nd AS (SELECT count(*) AS nd FROM documents), " +
      "sc AS (SELECT tfh.doc_id, tfh.th, " +
      "tfh.tf * ((nd.nd * 1048576) // dfc.df) AS score " +
      "FROM tfh JOIN dfc USING (th) CROSS JOIN nd), " +
      "rk AS (SELECT doc_id, th, score, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, th ASC) AS rn " +
      "FROM sc), " +
      s"pd AS (SELECT doc_id, sum(rn * (th % $DigestMod)) " +
      s"% $CleanSumMod AS digest, " +
      "max(CASE WHEN rn = 1 THEN score END) AS top1 " +
      "FROM rk WHERE rn <= 3 GROUP BY doc_id) " +
      "SELECT d.source, count(*) AS n_docs, " +
      "CAST(sum(pd.digest) AS BIGINT) AS kw_digest, " +
      "CAST(sum(pd.top1) AS BIGINT) AS top1_sum " +
      "FROM pd JOIN documents d USING (doc_id) " +
      "GROUP BY d.source ORDER BY d.source")

  /** Vocabulary growth curve (Heaps-law saturation diagnostic): per
    * source, the distinct-token count over the hash-ordered 25/50/
    * 75/100% doc subsets — a source whose tail quartile still adds
    * many new types is unsaturated (more data keeps paying); one
    * whose curve flattens is template-heavy. Exact integer distinct
    * counts on the vocab grain (the q_text_vocab shuffle shape); the
    * tail share (v100−v75)/v100 is an exact integer ratio. */
  private val vocabGrowth = Q("q_text_vocabgrowth",
    (s, d) => {
      val qrt = least(floor(Sampling.hashFraction(col("doc_id"))
        * lit(4.0)).cast("int"), lit(3))
      docs(s, d)
        .select(col("source"), qrt.as("q"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(when(col("q") <= 0, col("tok"))).as("v25"),
          countDistinct(when(col("q") <= 1, col("tok"))).as("v50"),
          countDistinct(when(col("q") <= 2, col("tok"))).as("v75"),
          countDistinct(col("tok")).as("v100"))
        .select(col("source"), col("n_tokens"), col("v25"), col("v50"),
          col("v75"), col("v100"),
          round((col("v100") - col("v75")).cast("double") /
            col("v100").cast("double"), 5).as("tail_share"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, " +
      s"least(CAST(floor(${Sampling.HashFractionSql("doc_id")} * 4.0) " +
      "AS INT), 3) AS q, " +
      "unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "SELECT source, count(*) AS n_tokens, " +
      "count(DISTINCT CASE WHEN q <= 0 THEN tok END) AS v25, " +
      "count(DISTINCT CASE WHEN q <= 1 THEN tok END) AS v50, " +
      "count(DISTINCT CASE WHEN q <= 2 THEN tok END) AS v75, " +
      "count(DISTINCT tok) AS v100, " +
      "round(CAST(count(DISTINCT tok) - " +
      "count(DISTINCT CASE WHEN q <= 2 THEN tok END) AS DOUBLE) / " +
      "CAST(count(DISTINCT tok) AS DOUBLE), 5) AS tail_share " +
      "FROM t GROUP BY source ORDER BY source")

  /** Top-V vocabulary: fingerprint-shuffled tf/df with a min-count
    * prune; the DuckDB side rebuilds the same hash pipeline so the
    * cutoff tie-break (tf desc, hash asc) is engine-identical. */
  private val VocabMinCount = 10L
  private val VocabTopV = 25
  private val textVocab = Q("q_text_vocab",
    (s, d) => TextAnalysis.vocabulary(docs(s, d), "doc_id", "text",
      VocabMinCount, VocabTopV, cache = pin)
      .orderBy(col("tf").desc, col("token")),
    "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents), " +
      s"h AS (SELECT doc_id, tok, ${TextAnalysis.TokenHashSql("tok")} " +
      "AS th FROM toks), " +
      "dc AS (SELECT th, doc_id, count(*) AS c FROM h GROUP BY 1, 2), " +
      "v AS (SELECT th, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df " +
      s"FROM dc GROUP BY th HAVING sum(c) >= $VocabMinCount), " +
      s"top AS (SELECT th, tf, df FROM v ORDER BY tf DESC, th " +
      s"LIMIT $VocabTopV), " +
      "names AS (SELECT h.th, min(h.tok) AS token FROM h " +
      "JOIN top ON h.th = top.th GROUP BY h.th) " +
      "SELECT names.token, top.tf, top.df FROM top " +
      "JOIN names ON top.th = names.th ORDER BY top.tf DESC, names.token")

  /** Top duplicated phrases WITH spellings — the data-card artifact
    * naming the boilerplate (what dup-rate numbers only count). Scale
    * shape is the vocabulary trick: strings never shuffle corpus-wide
    * — doc frequency aggregates over 45-bit FINGERPRINTS, the top-K
    * set broadcasts back, and only the hit-sized survivor set carries
    * its phrase into the final (min-spelling) aggregate. The
    * fp↔phrase pairing comes from one native kernel pass
    * ([[graft.ops.NgramFpStringsExpr]] — per-doc distinct, first
    * occurrence). */
  private val TopDupsK = 12
  private val textTopDups = Q("q_text_topdups",
    (s, d) => {
      val ex = docs(s, d).select(explode(
          graft.ops.TextHashExpressions.ngramFpStrings(col("text"), 3))
          .as("g"))
        .select(col("g.fp").as("fp"), col("g.gram").as("gram"))
      val dfreq = ex.groupBy("fp").agg(count(lit(1)).as("df"))
      val top = dfreq.where(col("df") >= 2)
        .orderBy(col("df").desc, col("fp")).limit(TopDupsK)
      ex.join(broadcast(top), "fp")
        .groupBy("fp", "df").agg(min(col("gram")).as("phrase"))
        .select(col("phrase"), col("df"))
        .orderBy(col("df").desc, col("phrase"))
    }, {
      val M = Dedup.NgramFpMod
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        "g0 AS (SELECT doc_id, unnest([{'i': i, " +
        s"'fp': ((hl[i] * 31 + hl[i+1]) % $M * 31 + hl[i+2]) % $M, " +
        "'gram': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]} " +
        "for i in range(1, len(hl) - 1)]) AS s FROM t), " +
        "g1 AS (SELECT doc_id, s.i AS i, s.fp AS fp, s.gram AS gram " +
        "FROM g0), " +
        // per-doc distinct by fp, FIRST occurrence (the kernel's
        // LinkedHashMap semantics)
        "g AS (SELECT doc_id, fp, gram FROM (SELECT doc_id, fp, gram, " +
        "row_number() OVER (PARTITION BY doc_id, fp ORDER BY i) AS rk " +
        "FROM g1) WHERE rk = 1), " +
        "dfreq AS (SELECT fp, count(*) AS df FROM g GROUP BY fp), " +
        s"top AS (SELECT fp, df FROM dfreq WHERE df >= 2 " +
        s"ORDER BY df DESC, fp LIMIT $TopDupsK) " +
        "SELECT min(g.gram) AS phrase, top.df FROM g " +
        "JOIN top USING (fp) GROUP BY top.fp, top.df " +
        "ORDER BY top.df DESC, phrase"
    })

  private val textDupNgrams = Q("q_text_dupngrams",
    (s, d) => {
      val d0 = docs(s, d)
      val rates = Dedup.dupNgramRate(d0, "text", "doc_id")
      d0.select(col("doc_id"), col("source")).join(rates, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("dup_rate")), 5).as("avg_dup_rate"),
          sum(when(col("dup_rate") >= 0.5, 1L).otherwise(0L))
            .as("n_dupheavy"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "g AS (SELECT doc_id, source, unnest(list_distinct(" +
      s"[((hl[i] * 31 + hl[i+1]) % ${Dedup.NgramFpMod} * 31 + hl[i+2]) " +
      s"% ${Dedup.NgramFpMod} " +
      "for i in range(1, len(hl) - 1)])) AS gr FROM t), " +
      "cnt AS (SELECT gr, count(*) AS df FROM g GROUP BY gr), " +
      "rate AS (SELECT g.doc_id, g.source, " +
      "sum(CASE WHEN cnt.df >= 2 THEN 1 ELSE 0 END)::DOUBLE / " +
      "count(*)::DOUBLE AS dr FROM g JOIN cnt USING (gr) " +
      "GROUP BY g.doc_id, g.source) " +
      "SELECT source, count(*) AS n_docs, " +
      "round(avg(dr), 5) AS avg_dup_rate, " +
      "CAST(sum(CASE WHEN dr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_dupheavy FROM rate GROUP BY source ORDER BY source")

  /** n-gram novelty scoring ([[graft.ops.Dedup.noveltyRate]]): the
    * share of each doc's distinct trigrams FIRST introduced by that
    * doc (min-id holder). Flags 0.0 for exact copies of earlier docs,
    * 1.0 for wholly original text; thresholds compare identically
    * cross-engine because the rate is the same exact rational in
    * both. */
  private val textNovelty = Q("q_text_novelty",
    (s, d) => {
      val d0 = docs(s, d)
      val rates = Dedup.noveltyRate(d0, "text", "doc_id")
      d0.select(col("doc_id"), col("source")).join(rates, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("novel_rate")), 5).as("avg_novelty"),
          sum(when(col("novel_rate") === 1.0, 1L).otherwise(0L))
            .as("n_allnovel"),
          sum(when(col("novel_rate") < 0.5, col("doc_id")).otherwise(0L))
            .as("derivative_idsum"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "g AS (SELECT doc_id, source, unnest(list_distinct(" +
      s"[((hl[i] * 31 + hl[i+1]) % ${Dedup.NgramFpMod} * 31 + hl[i+2]) " +
      s"% ${Dedup.NgramFpMod} " +
      "for i in range(1, len(hl) - 1)])) AS gr FROM t), " +
      "fh AS (SELECT gr, min(doc_id) AS fid FROM g GROUP BY gr), " +
      "rate AS (SELECT g.doc_id, g.source, " +
      "sum(CASE WHEN fh.fid = g.doc_id THEN 1 ELSE 0 END)::DOUBLE / " +
      "count(*)::DOUBLE AS nr FROM g JOIN fh USING (gr) " +
      "GROUP BY g.doc_id, g.source) " +
      "SELECT source, count(*) AS n_docs, " +
      "round(avg(nr), 5) AS avg_novelty, " +
      "CAST(sum(CASE WHEN nr = 1.0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_allnovel, " +
      "CAST(sum(CASE WHEN nr < 0.5 THEN doc_id ELSE 0 END) AS BIGINT) " +
      "AS derivative_idsum FROM rate GROUP BY source ORDER BY source")

  /** PMI collocation mining ([[graft.ops.NgramLm.pmiCollocations]]):
    * top adjacent-token pairs by pointwise mutual information with a
    * min-count floor; counts are integer hash aggregates, the pmi
    * doubles derive from them in one written form, and spellings are
    * recovered post-selection via the broadcast winner probe — so
    * the ranked list matches verbatim. */
  private val textPmi = Q("q_text_pmi",
    (s, d) => {
      val d0 = docs(s, d)
      // scale-adaptive count-table pin — see [[pinIfBig]]: identity at
      // bench scale (reuse wins there), persisted above the crossover
      NgramLm.pmiCollocations(d0, "text", "doc_id",
          cache = pinIfBig(d0))
        .select(col("rank"), col("spelling"), col("cp"),
          round(col("pmi"), 5).as("pmi"))
        .orderBy("rank")
    },
    {
      val M = Dedup.NgramFpMod
      s"WITH t AS (SELECT string_split(text, ' ') AS ws, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        "pr AS (SELECT unnest([{'w1': hl[i], 'w2': hl[i+1]} " +
        "for i in range(1, len(hl))]) AS u FROM t WHERE len(hl) >= 2), " +
        "cp AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS cp FROM pr " +
        "GROUP BY 1, 2), " +
        "ctc AS (SELECT h, count(*) AS ct FROM " +
        "(SELECT unnest(hl) AS h FROM t) GROUP BY h), " +
        "nn AS (SELECT CAST(sum(cp) AS BIGINT) AS nn FROM cp), " +
        s"sc AS (SELECT (cp.w1 * 31 + cp.w2) % $M AS b, cp.cp, " +
        "ln(CAST(cp.cp AS DOUBLE) * CAST(nn.nn AS DOUBLE) / " +
        "(CAST(c1.ct AS DOUBLE) * CAST(c2.ct AS DOUBLE))) AS pmi " +
        "FROM cp JOIN ctc c1 ON cp.w1 = c1.h " +
        "JOIN ctc c2 ON cp.w2 = c2.h CROSS JOIN nn WHERE cp.cp >= 5), " +
        "top AS (SELECT b, cp, pmi, rank FROM (SELECT b, cp, pmi, " +
        "row_number() OVER (ORDER BY pmi DESC, b ASC) AS rank FROM sc) " +
        "WHERE rank <= 10), " +
        s"sp AS (SELECT unnest([{'b': (hl[i] * 31 + hl[i+1]) % $M, " +
        "'sp': ws[i] || ' ' || ws[i+1]} " +
        "for i in range(1, len(hl))]) AS u FROM t WHERE len(hl) >= 2), " +
        "sp2 AS (SELECT u.b AS b, u.sp AS sp FROM sp), " +
        "spg AS (SELECT sp2.b, min(sp2.sp) AS spelling FROM sp2 " +
        "JOIN top ON sp2.b = top.b GROUP BY sp2.b) " +
        "SELECT CAST(top.rank AS BIGINT) AS rank, spg.spelling, " +
        "top.cp, round(top.pmi, 5) AS pmi " +
        "FROM top JOIN spg ON top.b = spg.b ORDER BY rank"
    })

  /** Distinct-n diversity (Li et al. 2016's distinct-1/2 generalized
    * to the corpus): unique trigram fingerprints / total trigram
    * occurrences per source — the repetitiveness/diversity metric
    * generation pipelines track. Totals use the WITH-multiplicity
    * gram stream (one kernel pass over token hashes), uniques the
    * per-corpus distinct — both integer hash aggregates on 8-byte
    * fingerprints; the ratio is one division written identically. */
  private val textDistinctN = Q("q_text_distinctn",
    (s, d) => {
      val d0 = docs(s, d)
      val hl = Dedup.tokenHashList(col("text"))
      val grams = d0
        .select(col("doc_id"), col("source"), hl.as("__hl"))
        .select(col("doc_id"), col("source"),
          explode(Dedup.ngramFingerprints(col("__hl"), 3)).as("g"))
      grams.groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_unique"),
          (countDistinct(col("g")).cast("double") /
            count(lit(1)).cast("double")).as("distinct3"))
        .select(col("source"), col("n_grams"), col("n_unique"),
          round(col("distinct3"), 5).as("distinct3"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "g AS (SELECT doc_id, source, unnest(" +
      s"[((hl[i] * 31 + hl[i+1]) % ${Dedup.NgramFpMod} * 31 + hl[i+2]) " +
      s"% ${Dedup.NgramFpMod} " +
      "for i in range(1, len(hl) - 1)]) AS gr FROM t) " +
      "SELECT source, count(*) AS n_grams, " +
      "count(DISTINCT gr) AS n_unique, " +
      "round(count(DISTINCT gr)::DOUBLE / count(*)::DOUBLE, 5) " +
      "AS distinct3 FROM g GROUP BY source ORDER BY source")

  /** Bigram-LM perplexity scoring (CCNet-style quality signal): train
    * hash-space bigram/prefix counts on the corpus, score every doc's
    * avg −ln p(w₂|w₁) under add-one smoothing, aggregate per source.
    * Both engines share the token/bigram hash space, the count
    * tables, and the smoothing formula term for term. */
  private val textPerplexity = Q("q_text_perplexity",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize pass: train, scoring and the source join all
      // read the pinned hash-list frame (was 12 parquet scans)
      val hl = pin(NgramLm.hashListFrame(d0, "text", "doc_id",
        keep = Seq("source")))
      val lm = NgramLm.trainFromHl(hl, "doc_id")
      val ppl = NgramLm.perplexityFromHl(hl, "doc_id", lm)
      hl.select(col("doc_id"), col("source")).join(ppl, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          round(avg(col("nll")), 5).as("avg_nll"),
          round(min(col("nll")), 5).as("min_nll"),
          round(max(col("nll")), 5).as("max_nll"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "bg0 AS (SELECT doc_id, source, unnest([{'w1': hl[i], " +
      s"'b': (hl[i]*31 + hl[i+1]) % ${Dedup.NgramFpMod}} " +
      "for i in range(1, len(hl))]) AS u FROM t), " +
      "bg AS (SELECT doc_id, source, u.w1 AS w1, u.b AS b FROM bg0), " +
      "cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b), " +
      "cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1), " +
      "v AS (SELECT count(DISTINCT h) AS v FROM " +
      "(SELECT unnest(hl) AS h FROM t)), " +
      "ppl AS (SELECT doc_id, source, count(*) AS nb, " +
      "avg(-ln((cb.cb + 1.0) / CAST(cu.cu + v.v AS DOUBLE))) AS nll " +
      "FROM bg JOIN cb USING (b) JOIN cu USING (w1) CROSS JOIN v " +
      "GROUP BY doc_id, source) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(nb) AS BIGINT) AS n_bigrams, " +
      "round(avg(nll), 5) AS avg_nll, round(min(nll), 5) AS min_nll, " +
      "round(max(nll), 5) AS max_nll " +
      "FROM ppl GROUP BY source ORDER BY source")

  /** Kneser–Ney-smoothed perplexity ([[NgramLm.kneserNeyPerplexity]]):
    * the distinct-continuation smoother, per-source rolled up exactly
    * like the add-one row — the pair quantifies how much the better
    * smoother separates sources the add-one LM can't. KN discount
    * written as `0.75` literally on both engines (exactly
    * representable, no 1−x reconstruction hazard). */
  private val textKneserNey = Q("q_text_kneserney",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize pass (pinned hash lists) + pinned bigram TYPE
      // table (read by the scoring join and all three rollups) —
      // was 12 parquet scans / 30 exchanges
      val hl = pin(NgramLm.hashListFrame(d0, "text", "doc_id",
        keep = Seq("source")))
      val ppl = NgramLm.kneserNeyPerplexityFromHl(hl, "doc_id",
        cache = pin)
      hl.select(col("doc_id"), col("source")).join(ppl, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          round(avg(col("nll")), 5).as("avg_nll"),
          round(min(col("nll")), 5).as("min_nll"),
          round(max(col("nll")), 5).as("max_nll"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      s"WITH t AS (SELECT doc_id, source, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        "o0 AS (SELECT doc_id, source, unnest([{'w1': hl[i], " +
        "'w2': hl[i+1]} for i in range(1, len(hl))]) AS u FROM t), " +
        "o AS (SELECT doc_id, source, u.w1 AS w1, u.w2 AS w2 FROM o0), " +
        "cvw AS (SELECT w1, w2, count(*) AS cvw FROM o GROUP BY w1, w2), " +
        "cv AS (SELECT w1, CAST(sum(cvw) AS BIGINT) AS cv, " +
        "count(*) AS n1v FROM cvw GROUP BY w1), " +
        "cw AS (SELECT w2, count(*) AS n1w FROM cvw GROUP BY w2), " +
        "nt AS (SELECT count(*) AS nt FROM cvw), " +
        "ppl AS (SELECT doc_id, source, count(*) AS nb, " +
        "avg(-ln(greatest(cvw.cvw - 0.75, 0.0) / CAST(cv.cv AS DOUBLE) " +
        "+ 0.75 * CAST(cv.n1v AS DOUBLE) / CAST(cv.cv AS DOUBLE) * " +
        "(CAST(cw.n1w AS DOUBLE) / CAST(nt.nt AS DOUBLE)))) AS nll " +
        "FROM o JOIN cvw USING (w1, w2) JOIN cv USING (w1) " +
        "JOIN cw USING (w2) CROSS JOIN nt GROUP BY doc_id, source) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(nb) AS BIGINT) AS n_bigrams, " +
        "round(avg(nll), 5) AS avg_nll, round(min(nll), 5) AS min_nll, " +
        "round(max(nll), 5) AS max_nll " +
        "FROM ppl GROUP BY source ORDER BY source"
    })

  /** Cross-source contamination matrix: pairwise 5-gram containment
    * |fp(A) ∩ fp(B)| / |fp(A)| between every source pair — the "which
    * sources republish each other" leakage board consulted before
    * weighting a mixture. Scale shape: the data-sized pass is ONE
    * distinct aggregate to the (source, fingerprint) grain; the self
    * join runs on post-agg 45-bit keys where each fingerprint meets at
    * most |sources| rows per side (the fan-out bound is the source
    * count, never the corpus); the output is |sources|² rows. */
  private val textCrossSource = Q("q_text_crosssource",
    (s, d) => {
      val fps = docs(s, d).select(col("source"),
          explode(graft.ops.TextHashExpressions
            .ngramFps(col("text"), CrossN)).as("g"))
        .distinct()
      val sz = fps.groupBy("source").agg(count(lit(1)).as("na"))
      val shared = fps.as("a").join(fps.as("b"),
          col("a.g") === col("b.g") &&
            col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared.join(sz.withColumnRenamed("source", "src_a"), "src_a")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared").cast("double") / col("na").cast("double"),
            5).as("containment"))
        .orderBy("src_a", "src_b")
    }, {
      val M = Dedup.NgramFpMod
      val chain = (1 until CrossN).foldLeft("hl[i]") { (acc, k) =>
        s"($acc * 31 + hl[i+$k]) % $M"
      }
      s"WITH t AS (SELECT source, [${TextAnalysis.TokenHashSql("w")} " +
        s"% $M for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"g0 AS (SELECT source, unnest(list_distinct([$chain " +
        s"for i in range(1, len(hl) - ${CrossN - 2})])) AS g FROM t), " +
        "fps AS (SELECT DISTINCT source, g FROM g0), " +
        "sz AS (SELECT source, count(*) AS na FROM fps GROUP BY source), " +
        "sh AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "count(*) AS n_shared FROM fps a JOIN fps b ON a.g = b.g " +
        "AND a.source <> b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_shared, " +
        "round(CAST(n_shared AS DOUBLE) / CAST(na AS DOUBLE), 5) " +
        "AS containment " +
        "FROM sh JOIN sz ON sz.source = sh.src_a ORDER BY src_a, src_b"
    })

  /** BM25 keyword relevance over the corpus for a fixed query bag:
    * per-source stats over matched docs. Identical idf/tf formula
    * term-for-term, parenthesized the same way on both engines. */
  private val Bm25Terms = Seq("spark", "window", "hash")
  private val textBm25 = Q("q_text_bm25",
    (s, d) => {
      val d0 = docs(s, d)
      val sc = graft.ops.Ranking.bm25(d0, "text", "doc_id", Bm25Terms)
      d0.select(col("doc_id"), col("source")).join(sc, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_matched"),
          sum(col("n_hits")).as("n_hits"),
          round(avg(col("score")), 5).as("avg_score"),
          round(max(col("score")), 5).as("max_score"))
        .orderBy("source")
    }, {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "dl AS (SELECT doc_id, source, len(ws) AS dl FROM t), " +
        "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
        "m AS (SELECT doc_id, unnest(list_filter(ws, " +
        s"w -> list_contains([$terms], w))) AS term FROM t), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM m " +
        "GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM m " +
        "GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, " +
        "sum(ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * " +
        "((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * ((1.0 - 0.75) + " +
        "0.75 * (dl.dl / st.avgdl))))) AS score, " +
        "sum(tf.tf) AS nh FROM tf JOIN dfreq USING (term) " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st " +
        "GROUP BY tf.doc_id) " +
        "SELECT dl.source AS source, count(*) AS n_matched, " +
        "CAST(sum(sc.nh) AS BIGINT) AS n_hits, " +
        "round(avg(sc.score), 5) AS avg_score, " +
        "round(max(sc.score), 5) AS max_score " +
        "FROM sc JOIN dl ON sc.doc_id = dl.doc_id " +
        "GROUP BY dl.source ORDER BY dl.source"
    })

  /** PII detection + redaction parity: the synthetic corpus carries
    * no PII, so both engines union the SAME literal fixture rows
    * (emails, URLs, digit runs) onto the table — the real-data path
    * is exercised, the fixture binds the regex semantics. Counts are
    * integer-exact; redaction is checked via characters removed. */
  private val piiRows = Seq(
    (900001L, "contact me at alice@example.com or bob.smith@mail.co today",
      "en", "srcPII", 0L),
    (900002L, "see https://example.com/path?q=1 and http://foo.bar/x now",
      "en", "srcPII", 0L),
    (900003L, "call 12345678901 now or short 123456 exact 1234567",
      "en", "srcPII", 0L),
    (900004L, "mixed bob@x.io http://a.b/c?id=99999999 and 12345678",
      "en", "srcPII", 0L),
    (900005L, "call 555-867-5309 or 555 123 4567 from 10.0.42.1 today",
      "en", "srcPII", 0L),
    (900006L, "server at 192.168.001.255 logged 555-000-1111 twice",
      "en", "srcPII", 0L))

  /** Luhn-validated card-number detection
    * ([[graft.ops.TextAnalysis.digitRuns]] +
    * [[graft.ops.TextAnalysis.luhnValid]], ISO/IEC 7812) — the PII
    * family's PRECISION upgrade: the regex scrub treats every long
    * digit run as sensitive, but a run that fails the Luhn checksum
    * is a serial number or a hash, not a card (~90% of random runs
    * fail). The fixture plants, per doc, a formula-derived 16-digit
    * number with its CORRECT check digit (doc_id ≡ 0 mod 3), an
    * off-by-one check digit (≡ 1), or a 12-digit run below the
    * candidate floor (≡ 2) — so detection counts are a pure function
    * of the plant classes, and the valid-doc digest pins WHICH docs
    * carry real card shapes. Maximal-run candidate semantics on both
    * engines (regexp_extract_all('[0-9]+') + length filter); the
    * checksum fold is exact integer arithmetic. One map pass + one
    * aggregate; text never shuffles. */
  private val textLuhn = Q("q_text_luhn",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"),
          col("text"))
        .withColumn("__dl", graft.ops.PlanHints.computeOnce(
          transform(sequence(lit(0), lit(14)), i =>
            pmod(col("doc_id") * (lit(3) + i * lit(2)) + i * lit(7),
              lit(10)).cast("int"))))
      val sSum = aggregate(sequence(lit(1), lit(15)), lit(0),
        (acc, j) => {
          val dd = element_at(col("__dl"), j)
          acc + (when(pmod(j, lit(2)) === 1,
            when(dd * 2 > 9, dd * 2 - 9).otherwise(dd * 2))
            .otherwise(dd))
        })
      val chk = pmod(lit(10) - pmod(sSum, lit(10)), lit(10))
      val base15 = array_join(col("__dl"), "")
      val run = when(pmod(col("doc_id"), lit(3)) === 2,
          array_join(slice(col("__dl"), 1, 12), ""))
        .when(pmod(col("doc_id"), lit(3)) === 0,
          concat(base15, chk.cast("string")))
        .otherwise(concat(base15,
          pmod(chk + 1, lit(10)).cast("string")))
      val t2 = base.select(col("doc_id"), col("source"),
        concat_ws(" ", col("text"), run).as("text2"))
      val lv = t2.select(col("source"), col("doc_id"),
          explode(TextAnalysis.digitRuns(col("text2"), 13, 19)).as("r"))
        .select(col("source"), col("doc_id"),
          length(col("r")).as("L"),
          TextAnalysis.luhnValid(col("r")).as("ok"))
      val ps = lv.groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
          sum(col("L").cast("long")).as("sum_len"),
          sum(when(col("ok"), pmod(col("doc_id"), lit(CleanSumMod)))
            .otherwise(0L)).as("valid_docsum"))
      t2.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(ps, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_valid"), lit(0L)).as("n_valid"),
          coalesce(col("sum_len"), lit(0L)).as("sum_len"),
          coalesce(col("valid_docsum"), lit(0L)).as("valid_docsum"))
        .orderBy("source")
    },
    "WITH b AS (SELECT doc_id, source, text, " +
      "[CAST((doc_id * (3 + 2*i) + 7*i) % 10 AS INT) " +
      "for i in range(0, 15)] AS dl FROM documents), " +
      "s1 AS (SELECT *, list_sum([CASE WHEN (i % 2) = 1 THEN " +
      "(CASE WHEN 2*dl[i] > 9 THEN 2*dl[i] - 9 ELSE 2*dl[i] END) " +
      "ELSE dl[i] END for i in range(1, 16)]) AS ss FROM b), " +
      "s2 AS (SELECT *, (10 - ss % 10) % 10 AS chk FROM s1), " +
      "t2 AS (SELECT doc_id, source, text || ' ' || " +
      "CASE WHEN doc_id % 3 = 2 THEN " +
      "array_to_string(dl[1:12], '') " +
      "WHEN doc_id % 3 = 0 THEN array_to_string(dl, '') || " +
      "CAST(chk AS VARCHAR) " +
      "ELSE array_to_string(dl, '') || " +
      "CAST((chk + 1) % 10 AS VARCHAR) END AS text2 FROM s2), " +
      "runs AS (SELECT doc_id, source, " +
      "unnest(regexp_extract_all(text2, '[0-9]+')) AS r FROM t2), " +
      "cand AS (SELECT doc_id, source, r, length(r) AS L FROM runs " +
      "WHERE length(r) >= 13 AND length(r) <= 19), " +
      "lv AS (SELECT doc_id, source, L, " +
      "CASE WHEN list_sum([CASE WHEN ((length(r) - i) % 2) = 1 THEN " +
      "(CASE WHEN 2*CAST(rl[i] AS INT) > 9 " +
      "THEN 2*CAST(rl[i] AS INT) - 9 ELSE 2*CAST(rl[i] AS INT) END) " +
      "ELSE CAST(rl[i] AS INT) END " +
      "for i in range(1, length(r) + 1)]) % 10 = 0 " +
      "THEN 1 ELSE 0 END AS ok FROM " +
      "(SELECT *, string_split(r, '') AS rl FROM cand)), " +
      "nd AS (SELECT source, count(*) AS n_docs FROM documents " +
      "GROUP BY source), " +
      "ps AS (SELECT source, count(*) AS n_candidates, " +
      "CAST(sum(ok) AS BIGINT) AS n_valid, " +
      "CAST(sum(L) AS BIGINT) AS sum_len, " +
      s"CAST(sum(CASE WHEN ok = 1 THEN doc_id % $CleanSumMod " +
      "ELSE 0 END) AS BIGINT) AS valid_docsum FROM lv GROUP BY source) " +
      "SELECT nd.source, nd.n_docs, " +
      "coalesce(ps.n_candidates, 0) AS n_candidates, " +
      "coalesce(ps.n_valid, 0) AS n_valid, " +
      "coalesce(ps.sum_len, 0) AS sum_len, " +
      "coalesce(ps.valid_docsum, 0) AS valid_docsum " +
      "FROM nd LEFT JOIN ps USING (source) ORDER BY nd.source")

  private val textPii = Q("q_text_pii",
    (s, d) => {
      import s.implicits._
      val d0 = docs(s, d)
      val all = d0.unionByName(
        piiRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      all.select(col("source"),
          TextAnalysis.emailCount(col("text")).as("ne"),
          TextAnalysis.urlCount(col("text")).as("nu"),
          TextAnalysis.phoneCount(col("text")).as("np"),
          TextAnalysis.ipv4Count(col("text")).as("ni"),
          TextAnalysis.digitRunCount(col("text")).as("nd"),
          length(TextAnalysis.scrubPii(col("text"))).as("slen"),
          length(col("text")).as("olen"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ne")).as("n_emails"),
          sum(col("nu")).as("n_urls"),
          sum(col("np")).as("n_phones"),
          sum(col("ni")).as("n_ips"),
          sum(col("nd")).as("n_digit_runs"),
          sum((col("olen") - col("slen")).cast("long")).as("chars_redacted"))
        .orderBy("source")
    }, {
      val vals = piiRows.map { case (id, t, l, src, nc) =>
        s"($id, '$t', '$l', '$src', $nc)" }.mkString(", ")
      "WITH alldocs AS (SELECT doc_id, text, lang, source, n_chars " +
        s"FROM documents UNION ALL SELECT * FROM (VALUES $vals) " +
        "AS v(doc_id, text, lang, source, n_chars)), " +
        "c AS (SELECT source, " +
        s"len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS ne, " +
        s"len(regexp_extract_all(text, '${TextAnalysis.UrlRe}')) AS nu, " +
        s"len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS np, " +
        s"len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS ni, " +
        s"len(regexp_extract_all(text, '${TextAnalysis.DigitRunRe}')) " +
        "AS nd, " +
        s"length(${TextAnalysis.ScrubPiiSql("text")}) AS slen, " +
        "length(text) AS olen FROM alldocs) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(ne) AS BIGINT) AS n_emails, " +
        "CAST(sum(nu) AS BIGINT) AS n_urls, " +
        "CAST(sum(np) AS BIGINT) AS n_phones, " +
        "CAST(sum(ni) AS BIGINT) AS n_ips, " +
        "CAST(sum(nd) AS BIGINT) AS n_digit_runs, " +
        "CAST(sum(olen - slen) AS BIGINT) AS chars_redacted " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** Benchmark decontamination: docs ≡ 0 mod 97 act as the "eval
    * suite", the rest as the training corpus; per-source overlap
    * stats. Rates are exact rationals, so the ≥ 0.5 flag compares
    * identically on both engines. */
  private val textContamination = Q("q_text_contamination",
    (s, d) => {
      val d0 = docs(s, d)
      val bench = d0.where(col("doc_id") % 97 === 0)
      val corpus = d0.where(col("doc_id") % 97 =!= 0)
      val rates = Dedup.contamination(corpus, bench, "text", "doc_id")
      corpus.select(col("doc_id"), col("source")).join(rates, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_contaminated")).as("n_contaminated"),
          round(avg(col("contamination_rate")), 5).as("avg_rate"),
          sum(when(col("contamination_rate") >= 0.5, 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      val g3 = s"[((hl[i] * 31 + hl[i+1]) % $M * 31 + hl[i+2]) % $M " +
        "for i in range(1, len(hl) - 1)]"
      s"WITH t AS (SELECT doc_id, source, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"bench AS (SELECT DISTINCT unnest($g3) AS g FROM t " +
        "WHERE doc_id % 97 = 0), " +
        s"cg AS (SELECT doc_id, source, list_distinct($g3) AS gs FROM t " +
        "WHERE doc_id % 97 <> 0), " +
        "ce AS (SELECT doc_id, source, len(gs) AS n_grams, " +
        "unnest(gs) AS g FROM cg WHERE len(gs) > 0), " +
        "hit AS (SELECT ce.doc_id, ce.source, ce.n_grams, " +
        "sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS nc " +
        "FROM ce LEFT JOIN bench b USING (g) " +
        "GROUP BY ce.doc_id, ce.source, ce.n_grams) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(nc) AS BIGINT) AS n_contaminated, " +
        "round(avg(nc::DOUBLE / n_grams::DOUBLE), 5) AS avg_rate, " +
        "CAST(sum(CASE WHEN nc::DOUBLE / n_grams::DOUBLE >= 0.5 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged " +
        "FROM hit GROUP BY source ORDER BY source"
    })

  private val textLangid = Q("q_text_langid",
    (s, d) => docs(s, d)
      .withColumn("pred", TextAnalysis.langId(col("text")))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred"),
    {
      val scores = TextAnalysis.LangPriority.map(l => s"${stopSql(l)} AS s_$l")
        .mkString(", ")
      val maxS = TextAnalysis.LangPriority.map(l => s"s_$l").mkString(", ")
      val cases = TextAnalysis.LangPriority.map(l =>
        s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
      "WITH t AS (SELECT lang, string_split(text, ' ') AS ws FROM documents), " +
        s"sc AS (SELECT lang, $scores FROM t), " +
        s"p AS (SELECT lang, greatest($maxS) AS m, * FROM sc), " +
        s"pred AS (SELECT lang, CASE $cases ELSE 'und' END AS pred FROM p) " +
        "SELECT lang, pred, count(*) AS n FROM pred " +
        "GROUP BY lang, pred ORDER BY lang, pred"
    })

  private val textQuality = Q("q_text_quality",
    (s, d) => docs(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(avg(TextAnalysis.qualityScore(col("text"))), 5).as("avg_q"),
        round(avg(TextAnalysis.punctRatio(col("text"))), 5).as("avg_punct"),
        round(avg(TextAnalysis.stopwordRatio(col("text"))), 5).as("avg_stop"))
      .orderBy("lang"),
    "WITH t AS (SELECT lang, text, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      s"m AS (SELECT lang, ($PunctSql) AS punct, " +
      s"($StopSumSql)::DOUBLE / $WordCountSql::DOUBLE AS stop, " +
      "least(length(text)::DOUBLE / 200.0, 1.0) AS lenscore FROM t) " +
      "SELECT lang, count(*) AS n, " +
      "round(avg(least(greatest(0.4*lenscore + 0.3*(1.0 - punct) + " +
      "0.3*least(stop*5.0, 1.0), 0.0), 1.0)), 5) AS avg_q, " +
      "round(avg(punct), 5) AS avg_punct, " +
      "round(avg(stop), 5) AS avg_stop " +
      "FROM m GROUP BY lang ORDER BY lang")

  private val textTokens = Q("q_text_tokens",
    (s, d) => docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(TextAnalysis.wordCount(col("text")).cast("long")).as("sum_words"),
        sum(TextAnalysis.bpeishCount(col("text")).cast("long")).as("sum_bpeish"))
      .orderBy("source"),
    "SELECT source, count(*) AS n, " +
      "CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) " +
      "AS sum_words, " +
      s"CAST(sum(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}'))) " +
      "AS BIGINT) AS sum_bpeish " +
      "FROM documents GROUP BY source ORDER BY source")

  private val textNormalize = Q("q_text_normalize",
    (s, d) => docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n"),
        countDistinct(TextAnalysis.normalize(col("text"))).as("n_norm"),
        sum(length(TextAnalysis.normalize(col("text"))).cast("long"))
          .as("sum_len"))
      .orderBy("source"),
    s"WITH t AS (SELECT source, ${TextAnalysis.NormalizeSql("text")} " +
      "AS nt FROM documents) " +
      "SELECT source, count(*) AS n, count(DISTINCT nt) AS n_norm, " +
      "CAST(sum(length(nt)) AS BIGINT) AS sum_len " +
      "FROM t GROUP BY source ORDER BY source")

  /** Overlapping token-window chunking: per-source chunk counts,
    * token mass, partial (end-reaching) chunks, and a content
    * checksum over every chunk string — pins both the chunk
    * arithmetic and the reassembled chunk text cross-engine. */
  private val textChunks = Q("q_text_chunks",
    (s, d) => {
      val d0 = docs(s, d)
      TextAnalysis.chunks(d0, "text", "doc_id", ChunkWindow, ChunkStride)
        .join(d0.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("sum_tok"),
          sum(when(col("n_tok") < ChunkWindow, 1L).otherwise(0L))
            .as("n_partial"),
          sum(TextAnalysis.tokenHash(col("chunk")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    s"WITH ${chunkChSql("documents", "text")} " +
      "SELECT source, count(*) AS n_chunks, " +
      "CAST(sum(n_tok) AS BIGINT) AS sum_tok, " +
      s"CAST(sum(CASE WHEN n_tok < $ChunkWindow THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_partial, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("chunk")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM ch GROUP BY source ORDER BY source")

  /** Quality-classifier scoring under FIXED weights: the sigmoid
    * linear form over the shared deterministic feature map — the
    * one-scan inference path of the Bayesian classifier (training is
    * stochastic and statistically tested; THIS pins the scoring
    * arithmetic cross-engine). */
  private val textClassifier = Q("q_text_classifier",
    (s, d) => graft.ops.QualityClassifier
      .withFeatures(docs(s, d), "text")
      .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 5).as("avg_score"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_keep"))
      .orderBy("source"),
    s"WITH sc AS (SELECT source, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents) " +
      "SELECT source, count(*) AS n_docs, " +
      "round(avg(score), 5) AS avg_score, " +
      "CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_keep FROM sc GROUP BY source ORDER BY source")

  /** Classifier calibration (reliability bins, Guo et al. 2017):
    * fixed-weight scores vs the Gopher rule as the observed label —
    * both sides deterministic, so bucket counts and the rounded
    * conf/acc/gap columns hash-match. ECE is Σ n·gap / N over the
    * result rows. */
  private val textCalibration = Q("q_text_calibration",
    (s, d) => {
      val scored = graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .withColumn("lab",
          TextAnalysis.gopherFlags(col("text")).getField("keep"))
      graft.ops.QualityClassifier.calibrationBins(scored, "score", "lab")
    }, {
      import TextAnalysis.{GopherMinWords => WLo, GopherMaxWords => WHi,
        GopherMinWordLen => LLo, GopherMaxWordLen => LHi,
        GopherMinStopRatio => SLo}
      val swSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      "WITH t AS (SELECT text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"s AS (SELECT ${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} " +
        "AS score, CASE WHEN len(ws) >= " + WLo + " AND len(ws) <= " + WHi +
        s" AND (length(text) - (len(ws) - 1))::DOUBLE / len(ws) >= $LLo " +
        s"AND (length(text) - (len(ws) - 1))::DOUBLE / len(ws) <= $LHi " +
        s"AND ($swSum)::DOUBLE / len(ws) >= $SLo " +
        "THEN 1.0 ELSE 0.0 END AS lab FROM t) " +
        "SELECT CAST(least(greatest(floor(score * 10.0), 0.0), 9.0) " +
        "AS BIGINT) AS bin, " +
        "count(*) AS n, round(avg(score), 5) AS conf, " +
        "round(avg(lab), 5) AS acc, " +
        "round(abs(avg(score) - avg(lab)), 5) AS gap " +
        "FROM s GROUP BY 1 ORDER BY 1"
    })

  /** Unigram-LM (SentencePiece-style) tokenizer induction
    * ([[graft.ops.UnigramLm]], Kudo 2018) — the BPE sibling a modern
    * pipeline actually ships: substring-seeded piece inventory →
    * hard-EM rounds (Viterbi-segment every word under piece probs,
    * re-estimate counts from the best segmentations) → prune to the
    * target vocabulary → segment. The corpus is touched once (word
    * table); every round is one codegen'd Viterbi map over the
    * VOCABULARY plus two aggregates, with only model-sized driver
    * round-trips (the [[graft.ops.Bpe]] rounds-over-vocab
    * discipline). Cross-engine float determinism: piece prob = one
    * IEEE division of exact ints, segmentation scores multiply
    * LEFT-TO-RIGHT on both engines (the DP extension IS the left
    * fold), ties break by the reversed-interior-cut rule the DP's
    * ascending->= scan and the oracle's (score DESC, rkey ASC)
    * enumeration both realize — so per-word segmentations, the
    * order-sensitive digest, fertility, and the EM count trajectory
    * all pin bit-exactly. The oracle replays seed, both EM rounds,
    * the char floor, and the prune with enumeration Viterbi
    * (2^(L−1) masks per word — exponential, but it runs on the
    * VOCABULARY at gate scale; the Spark side is the O(L·maxLen)
    * DP). */
  private val textUnigramLm = Q("q_text_unigramlm",
    (s, d) => graft.ops.UnigramLm.trainDf(docs(s, d), "text"),
    {
      val M = graft.ops.UnigramLm.DigestMod
      val maxL = graft.ops.UnigramLm.MaxPieceLen
      val seedN = graft.ops.UnigramLm.SeedSize
      val vocN = graft.ops.UnigramLm.VocabTarget
      val D = graft.ops.Bpe.DelimSql
      val h = TextAnalysis.TokenHashSql("pieces[k]")
      def segRound(n: Int, model: String, tot: String): String =
        s"msk$n AS (SELECT tok, freq, " +
          "unnest(range(0, 1 << (length(tok) - 1))) AS mask FROM wt), " +
          s"pz$n AS (SELECT tok, freq, mask, " +
          "[CAST(i AS INT) for i in range(1, length(tok)) " +
          "if ((mask >> (i - 1)) & 1) = 1] AS cuts, " +
          "array_to_string([lpad(CAST(i AS VARCHAR), 2, '0') " +
          "for i in range(length(tok) - 1, 0, -1) " +
          "if ((mask >> (i - 1)) & 1) = 1], '') AS rkey " +
          s"FROM msk$n), " +
          s"sg$n AS (SELECT tok, freq, mask, rkey, " +
          "[substr(tok, (list_prepend(0, cuts))[k] + 1, " +
          "(list_concat(cuts, [length(tok)]))[k] - " +
          "(list_prepend(0, cuts))[k]) " +
          "for k in range(1, len(cuts) + 2)] AS pieces FROM pz$n), "
            .replace("$n", n.toString) +
          s"sc$n AS (SELECT tok, freq, mask, rkey, pieces, 0 AS k, " +
          s"CAST(1.0 AS DOUBLE) AS s FROM sg$n UNION ALL " +
          "SELECT r.tok, r.freq, r.mask, r.rkey, r.pieces, r.k + 1, " +
          "r.s * (CAST(coalesce(m.cnt, 0) AS DOUBLE) / " +
          s"(SELECT CAST(t AS DOUBLE) FROM $tot)) " +
          s"FROM sc$n r LEFT JOIN $model m " +
          "ON m.piece = r.pieces[r.k + 1] " +
          "WHERE r.k < len(r.pieces)), " +
          s"best$n AS MATERIALIZED (SELECT tok, freq, pieces FROM (" +
          "SELECT tok, freq, pieces, row_number() OVER (" +
          "PARTITION BY tok ORDER BY s DESC, rkey ASC) AS rn " +
          s"FROM sc$n WHERE k = len(pieces)) WHERE rn = 1)"
      def stats(n: Int, model: String): String =
        s"st$n AS (SELECT $n AS round, " +
          s"(SELECT CAST(count(*) AS INT) FROM $model) AS n_model, " +
          "(SELECT count(DISTINCT piece) FROM (" +
          s"SELECT unnest(pieces) AS piece FROM best$n)) " +
          "AS n_pieces_used, " +
          "(SELECT CAST(sum(freq * len(pieces)) AS BIGINT) " +
          s"FROM best$n) AS piece_instances, " +
          "(SELECT CAST(sum(freq * len(pieces)) AS DOUBLE) / " +
          s"CAST(sum(freq) AS DOUBLE) FROM best$n) AS avg_pieces, " +
          s"(SELECT CAST(sum(freq * list_sum([(k * ($h % $M)) % $M " +
          "for k in range(1, len(pieces) + 1)])) AS BIGINT) " +
          s"% $M FROM best$n) AS seg_digest)"
      "WITH RECURSIVE " +
        "wt AS MATERIALIZED (SELECT tok, count(*) AS freq FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE length(tok) > 0 AND NOT contains(tok, $D) " +
        "GROUP BY tok), " +
        "chars AS MATERIALIZED (SELECT DISTINCT unnest(" +
        "[substr(tok, i, 1) for i in range(1, length(tok) + 1)]) " +
        "AS piece FROM wt), " +
        "subs AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT freq, unnest(flatten([[substr(tok, i, l) " +
        s"for l in range(1, least($maxL, length(tok) - i + 1) + 1)] " +
        "for i in range(1, length(tok) + 1)])) AS piece FROM wt) " +
        "GROUP BY piece), " +
        s"top48 AS (SELECT piece, cnt FROM subs ORDER BY cnt DESC, " +
        s"piece ASC LIMIT $seedN), " +
        "model1 AS MATERIALIZED (SELECT piece, cnt FROM top48 " +
        "UNION ALL SELECT s.piece, s.cnt FROM subs s WHERE " +
        "length(s.piece) = 1 AND s.piece NOT IN " +
        "(SELECT piece FROM top48)), " +
        "tot1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM model1), " +
        segRound(1, "model1", "tot1") + ", " + stats(1, "model1") + ", " +
        "cnt2 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT freq, unnest(pieces) AS piece FROM best1) " +
        "GROUP BY piece), " +
        "model2 AS MATERIALIZED (SELECT piece, cnt FROM cnt2 " +
        "UNION ALL SELECT c.piece, CAST(1 AS BIGINT) FROM chars c " +
        "WHERE c.piece NOT IN (SELECT piece FROM cnt2)), " +
        "tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM model2), " +
        segRound(2, "model2", "tot2") + ", " + stats(2, "model2") + ", " +
        "cnt3 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT freq, unnest(pieces) AS piece FROM best2) " +
        "GROUP BY piece), " +
        "m3src AS MATERIALIZED (SELECT piece, cnt FROM cnt3 " +
        "UNION ALL SELECT c.piece, CAST(1 AS BIGINT) FROM chars c " +
        "WHERE c.piece NOT IN (SELECT piece FROM cnt3)), " +
        "kept AS (SELECT piece, cnt FROM (SELECT piece, cnt, " +
        "row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn " +
        s"FROM m3src) WHERE rn <= $vocN), " +
        "model3 AS MATERIALIZED (SELECT piece, cnt FROM kept " +
        "UNION ALL SELECT m.piece, m.cnt FROM m3src m JOIN chars c " +
        "ON c.piece = m.piece WHERE m.piece NOT IN " +
        "(SELECT piece FROM kept)), " +
        "tot3 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM model3), " +
        segRound(3, "model3", "tot3") + ", " + stats(3, "model3") + " " +
        "SELECT * FROM st1 UNION ALL SELECT * FROM st2 " +
        "UNION ALL SELECT * FROM st3 ORDER BY round"
    })

  /** Distributed BPE vocabulary induction: the learned merge table
    * (round, pair, merged symbol, weighted pair count) for BpeRounds
    * rounds — the oracle unrolls the SAME rounds as CTE stages, so
    * the whole iterative algorithm (pair counting, argmax
    * tie-breaks, two-pass delimited replace) is pinned end to end. */
  private val textBpe = Q("q_text_bpe",
    (s, d) => graft.ops.Bpe.learnDf(docs(s, d), "text", BpeRounds),
    {
      val union = (1 to BpeRounds).map { r =>
        s"SELECT $r AS round, a, b, a||b AS merged, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$r"
      }.mkString(" UNION ALL ")
      bpeLearnCtes + s"SELECT * FROM ($union) ORDER BY round"
    })

  /** Tokenizer fertility (pieces per word) under the learned BPE —
    * the coverage metric that decides whether a vocab is big enough
    * for a corpus (fertility → 1 as merges cover it): learn the
    * merge table, SEGMENT every word occurrence with it (the
    * tokenizer APPLY side as a pure map), and report per-source word
    * count, piece count, fertility, and fully-merged-word share. The
    * oracle re-learns the same merges as CTE stages and applies them
    * with the same two-pass delimited replace — the entire
    * learn-then-apply loop is pinned cross-engine. */
  private val textFertility = Q("q_text_fertility",
    (s, d) => {
      val d0 = docs(s, d)
      val merges = graft.ops.Bpe.learn(d0, "text", BpeRounds)
        .map(m => (m.a, m.b))
      val words = d0.select(col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "" &&
          !col("tok").contains(graft.ops.Bpe.Delim))
      words
        .select(col("source"),
          size(graft.ops.Bpe.segment(col("tok"), merges)).as("np"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(col("np").cast("long")).as("n_pieces"),
          round(avg(col("np").cast("double")), 5).as("fertility"),
          sum(when(col("np") === 1, 1L).otherwise(0L)).as("n_single"))
        .orderBy("source")
    }, {
      val D = graft.ops.Bpe.DelimSql
      val applies = (1 to BpeRounds).map { r =>
        val prev = if (r == 1) "ws" else s"a${r - 1}"
        s"a$r AS (SELECT source, replace(replace(seq, " +
          s"$D||a||$D||b||$D, $D||a||b||$D), " +
          s"$D||a||$D||b||$D, $D||a||b||$D) AS seq " +
          s"FROM $prev CROSS JOIN b$r)"
      }.mkString(", ")
      bpeLearnCtes +
        ", w AS (SELECT source, tok FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D)), " +
        s"ws AS (SELECT source, $D || " +
        s"array_to_string(string_split(tok, ''), $D) || $D AS seq " +
        s"FROM w), $applies, " +
        s"p AS (SELECT source, len(string_split(trim(seq, $D), $D)) " +
        s"AS np FROM a$BpeRounds) " +
        "SELECT source, count(*) AS n_words, " +
        "CAST(sum(np) AS BIGINT) AS n_pieces, " +
        "round(avg(np::DOUBLE), 5) AS fertility, " +
        "CAST(sum(CASE WHEN np = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_single FROM p GROUP BY source ORDER BY source"
    })

  private val WpRounds = 6

  /** Shared WordPiece learning CTEs (w0/ws0 + sy_r/p_r/b_r/ws_r per
    * round) — likelihood-scored merges as CTE stages, reused by the
    * merge-table and MaxMatch-apply oracles. No leading WITH (the
    * apply oracle opens WITH RECURSIVE). ws_r and b_r are
    * MATERIALIZED: ws_{r−1} is referenced THREE times per round
    * (symbol counts, pair counts, the next replace), and DuckDB's
    * default CTE inlining turns that into a 3^rounds blowup
    * (measured: >120 s at sf0.001 inlined, <1 s materialized — the
    * cdcCtes lesson). */
  private def wpLearnCtes: String = {
    val D = graft.ops.Bpe.DelimSql
    val MK = graft.ops.WordPiece.MarkSql
    val head =
      "w0 AS MATERIALIZED (SELECT tok, count(*) AS freq FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D) " +
        s"AND NOT contains(tok, $MK) GROUP BY tok), " +
        s"ws0 AS MATERIALIZED (SELECT tok, freq, $D || array_to_string(" +
        s"[CASE WHEN i = 1 THEN l[i] ELSE $MK || l[i] END " +
        s"for i in range(1, len(l) + 1)], $D) || $D AS seq FROM (" +
        "SELECT tok, freq, string_split(tok, '') AS l FROM w0))"
    val rounds = (1 to WpRounds).map { r =>
      val prev = s"ws${r - 1}"
      s"sy$r AS (SELECT s, sum(freq) AS sc FROM (SELECT freq, " +
        s"unnest(string_split(trim(seq, $D), $D)) AS s FROM $prev) " +
        "GROUP BY s), " +
        s"p$r AS (SELECT u.a AS a, u.b AS b, sum(freq) AS c FROM (" +
        "SELECT freq, unnest([{'a': l[i], 'b': l[i+1]} " +
        "for i in range(1, len(l))]) AS u FROM (" +
        s"SELECT freq, string_split(trim(seq, $D), $D) AS l " +
        s"FROM $prev)) GROUP BY 1, 2), " +
        s"b$r AS MATERIALIZED (SELECT a, b, c, sa.sc AS ca, sb.sc AS cb " +
        s"FROM p$r " +
        s"JOIN sy$r sa ON sa.s = p$r.a " +
        s"JOIN sy$r sb ON sb.s = p$r.b " +
        "ORDER BY CAST(c AS DOUBLE) / CAST(ca * cb AS DOUBLE) DESC, " +
        "a ASC, b ASC LIMIT 1), " +
        s"ws$r AS MATERIALIZED (SELECT tok, freq, replace(replace(seq, " +
        s"$D||a||$D||b||$D, $D||a||substr(b, 2)||$D), " +
        s"$D||a||$D||b||$D, $D||a||substr(b, 2)||$D) AS seq " +
        s"FROM $prev CROSS JOIN b$r)"
    }.mkString(", ", ", ", " ")
    head + rounds
  }

  /** WordPiece tokenizer induction ([[graft.ops.WordPiece]], Schuster
    * & Nakajima 2012 — the BERT tokenizer, completing the tokenizer
    * family beside BPE and unigram-LM): merges scored by the
    * likelihood ratio count(ab)/(count(a)·count(b)) instead of the
    * raw pair count. Same rounds-over-vocabulary scale shape as
    * [[graft.ops.Bpe]] (the corpus is touched once; each round is one
    * narrow Spark job over the cached word table — symbol and pair
    * counts per partition, the ratio argmax on the driver,
    * [[graft.ops.MergeRounds]]). Counts are exact integers; the
    * score is ONE IEEE division of exact ints — identical on both
    * engines; ties break (a, b) under binary collation. */
  private val textWordPiece = Q("q_text_wordpiece",
    (s, d) => graft.ops.WordPiece.learnDf(docs(s, d), "text", WpRounds),
    {
      val MK = graft.ops.WordPiece.MarkSql
      val union = (1 to WpRounds).map { r =>
        s"SELECT $r AS round, replace(a, $MK, '##') AS a, " +
          s"replace(b, $MK, '##') AS b, " +
          s"replace(a || substr(b, 2), $MK, '##') AS merged, " +
          "CAST(c AS BIGINT) AS pair_count, " +
          "CAST(ca AS BIGINT) AS cnt_a, CAST(cb AS BIGINT) AS cnt_b, " +
          s"CAST(c AS DOUBLE) / CAST(ca * cb AS DOUBLE) AS score " +
          s"FROM b$r"
      }.mkString(" UNION ALL ")
      "WITH " + wpLearnCtes + s" SELECT * FROM ($union) ORDER BY round"
    })

  /** WordPiece MaxMatch apply — greedy longest-match-first
    * segmentation against the learned vocabulary (initial alphabet +
    * merges), with BERT's whole-word-[UNK] semantics: per-source word
    * counts, UNK counts, piece mass, fertility over matched words,
    * and a position-weighted piece digest that pins the identity AND
    * position of every chosen piece cross-engine. The Spark side is a
    * pure per-row map over a literal vocabulary (no shuffle of
    * text — the tokenizer-serving shape); the oracle
    * replays MaxMatch as a recursive CTE whose step picks max(len)
    * over prefix-matching vocab entries — greedy longest match needs
    * only the LENGTH, so the chosen piece is re-derived from the word
    * itself. Fertility is one IEEE division of exact ints. */
  private val textWordPieceApply = Q("q_text_wordpiece_apply",
    (s, d) => {
      val d0 = docs(s, d)
      val (_, vh) = graft.ops.WordPiece.learnWithVocab(d0, "text", WpRounds)
      val words = d0.select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "" &&
          !col("tok").contains(graft.ops.Bpe.Delim) &&
          !col("tok").contains(graft.ops.WordPiece.Mark))
      // computeOnce: the agg expressions read 3 fields of m, and a
      // collapsed projection would re-run the MaxMatch fold per field
      words.select(col("source"), graft.ops.PlanHints.computeOnce(
          graft.ops.WordPiece.maxMatch(col("tok"), vh)).as("m"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("m.unk"), 1L).otherwise(0L)).as("n_unk"),
          sum(when(!col("m.unk"), col("m.np").cast("long"))
            .otherwise(0L)).as("n_pieces"),
          sum(when(!col("m.unk"), col("m.dg")).otherwise(0L)).as("__dg"))
        .select(col("source"), col("n_words"), col("n_unk"),
          col("n_pieces"),
          (col("n_pieces").cast("double") /
            (col("n_words") - col("n_unk")).cast("double"))
            .as("fertility"),
          pmod(col("__dg"), lit(graft.ops.WordPiece.DigestMod))
            .as("seg_digest"))
        .orderBy("source")
    }, {
      val D = graft.ops.Bpe.DelimSql
      val MK = graft.ops.WordPiece.MarkSql
      val MOD = graft.ops.WordPiece.DigestMod
      val mergeUnion = (1 to WpRounds).map { r =>
        s"SELECT a || substr(b, 2) AS raw FROM b$r"
      }.mkString(" UNION ALL ")
      val pieceHash = TextAnalysis.TokenHashSql(
        s"CASE WHEN pos > 1 THEN $MK || substr(tok, pos, bl) " +
          "ELSE substr(tok, pos, bl) END")
      s"WITH RECURSIVE $wpLearnCtes, " +
        "ali AS (SELECT substr(tok, 1, 1) AS surface, FALSE AS marked " +
        "FROM w0 UNION ALL SELECT unnest(string_split(tok, '')[2:]), " +
        "TRUE FROM w0), " +
        s"mgv AS (SELECT CASE WHEN starts_with(raw, $MK) " +
        "THEN substr(raw, 2) ELSE raw END AS surface, " +
        s"starts_with(raw, $MK) AS marked FROM ($mergeUnion)), " +
        "voc AS (SELECT DISTINCT surface, marked FROM " +
        "(SELECT * FROM ali UNION ALL SELECT * FROM mgv)), " +
        "vst AS MATERIALIZED (SELECT surface, marked, " +
        "length(surface) AS len FROM voc), " +
        // the vocab rides the recursion as ONE list value: a
        // correlated scalar subquery inside the recursive term
        // silently yields NULL against this CTE chain (DuckDB 1.0,
        // reproduced minimal vs real), so the lookup is a pure list
        // comprehension over the packed vocab instead
        "vl AS MATERIALIZED (SELECT list(struct_pack(surface := surface, " +
        "marked := marked, len := len)) AS vs FROM vst), " +
        "wt AS MATERIALIZED (SELECT source, tok, count(*) AS freq FROM (" +
        "SELECT source, unnest(string_split(text, ' ')) AS tok " +
        s"FROM documents) WHERE tok <> '' AND NOT contains(tok, $D) " +
        s"AND NOT contains(tok, $MK) GROUP BY 1, 2), " +
        "st AS (SELECT source, tok, freq, 1 AS pos, 0 AS np, " +
        "FALSE AS unk, CAST(0 AS BIGINT) AS dg FROM wt " +
        "UNION ALL SELECT source, tok, freq, " +
        "CASE WHEN bl IS NULL THEN pos ELSE pos + bl END, " +
        "CASE WHEN bl IS NULL THEN np ELSE np + 1 END, " +
        "bl IS NULL, " +
        "CASE WHEN bl IS NULL THEN dg ELSE " +
        s"(dg + (np + 1) * (($pieceHash) % $MOD)) % $MOD END " +
        "FROM (SELECT s.*, list_max([x.len for x in vl.vs " +
        "if x.marked = (s.pos > 1) " +
        "and x.surface = substr(s.tok, s.pos, x.len)]) AS bl " +
        "FROM st s CROSS JOIN vl " +
        "WHERE NOT s.unk AND s.pos <= length(s.tok))), " +
        "fin AS (SELECT source, tok, freq, np, unk, dg FROM st " +
        "WHERE unk OR pos > length(tok)) " +
        "SELECT source, CAST(sum(freq) AS BIGINT) AS n_words, " +
        "CAST(sum(CASE WHEN unk THEN freq ELSE 0 END) AS BIGINT) " +
        "AS n_unk, " +
        "CAST(sum(CASE WHEN unk THEN 0 ELSE freq * np END) AS BIGINT) " +
        "AS n_pieces, " +
        "CAST(sum(CASE WHEN unk THEN 0 ELSE freq * np END) AS DOUBLE) " +
        "/ CAST(sum(freq) - sum(CASE WHEN unk THEN freq ELSE 0 END) " +
        "AS DOUBLE) AS fertility, " +
        "CAST(sum(CASE WHEN unk THEN 0 ELSE freq * dg END) AS BIGINT) " +
        s"% $MOD AS seg_digest " +
        "FROM fin GROUP BY source ORDER BY source"
    })

  /** Character-class entropy (gibberish/boilerplate signal): per-doc
    * Shannon entropy over 28 case-folded character classes — exact
    * integer counts feed the same −Σ p·ln p on both engines. One
    * codegen'd kernel pass, no shuffle. */
  private val textEntropy = Q("q_text_entropy",
    (s, d) => docs(s, d)
      .select(col("source"),
        graft.ops.TextHashExpressions.charEntropy(col("text")).as("ent"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ent")), 5).as("avg_ent"),
        round(min(col("ent")), 5).as("min_ent"),
        round(max(col("ent")), 5).as("max_ent"))
      .orderBy("source"),
    "WITH cls AS (SELECT doc_id, source, " +
      "CASE WHEN ascii(c) >= 97 AND ascii(c) <= 122 THEN ascii(c) - 97 " +
      "WHEN c = ' ' THEN 26 ELSE 27 END AS k FROM (" +
      "SELECT doc_id, source, unnest(string_split(lower(text), '')) AS c " +
      "FROM documents)), " +
      "counts AS (SELECT doc_id, source, k, count(*) AS cnt FROM cls " +
      "GROUP BY 1, 2, 3), " +
      "n AS (SELECT doc_id, sum(cnt) AS n FROM counts GROUP BY 1), " +
      "ent AS (SELECT c.doc_id, any_value(c.source) AS source, " +
      "-sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)) AS ent " +
      "FROM counts c JOIN n USING (doc_id) GROUP BY c.doc_id) " +
      "SELECT source, count(*) AS n_docs, " +
      "round(avg(ent), 5) AS avg_ent, round(min(ent), 5) AS min_ent, " +
      "round(max(ent), 5) AS max_ent " +
      "FROM ent GROUP BY source ORDER BY source")

  /** Feature-hashing document embedder (Weinberger et al. 2009): the
    * per-(source, bucket) aggregate over every doc's signed hashed
    * token counts, with a Σ doc_id·v checksum so any single per-doc
    * bucket value flipping anywhere in the corpus changes a result
    * row. All integer arithmetic on the portable token hash — exact
    * cross-engine. One codegen'd kernel pass + one map-side-partial
    * aggregate onto the ≤ sources×d grain; no join, no shuffle of
    * text. */
  private val HashEmbedDim = graft.ops.HashEmbed.DefaultDim
  private val textHashEmbed = Q("q_text_hashembed",
    (s, d) => docs(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(graft.ops.HashEmbed.counts(col("text"), HashEmbedDim)))
      .withColumnRenamed("pos", "j")
      .withColumnRenamed("col", "v")
      .where(col("v") =!= 0)
      .groupBy(col("source"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("v")).as("sum_v"),
        sum(abs(col("v"))).as("sum_abs"),
        sum(col("doc_id") * col("v")).as("checksum"))
      .orderBy("source", "j"),
    "WITH toks AS (SELECT doc_id, source, " +
      "unnest(string_split(text, ' ')) AS t FROM documents), " +
      s"h AS (SELECT doc_id, source, ${TextAnalysis.TokenHashSql("t")} " +
      "AS h FROM toks), " +
      s"v AS (SELECT doc_id, source, " +
      s"${graft.ops.HashEmbed.BucketSql("h", HashEmbedDim)} AS j, " +
      s"CAST(sum(${graft.ops.HashEmbed.SignSql("h", HashEmbedDim)}) " +
      "AS BIGINT) AS v FROM h GROUP BY 1, 2, 3) " +
      "SELECT source, j, count(*) AS n_docs, " +
      "CAST(sum(v) AS BIGINT) AS sum_v, " +
      "CAST(sum(abs(v)) AS BIGINT) AS sum_abs, " +
      "CAST(sum(doc_id * v) AS BIGINT) AS checksum " +
      "FROM v WHERE v <> 0 GROUP BY source, j ORDER BY source, j")

  /** Reciprocal-rank fusion of lexical and semantic retrieval
    * ([[graft.ops.Ranking.rrfFuse]]): BM25 over [[Bm25Terms]] fused
    * with the hashed-embedding cosine to the same query text. Both
    * candidate lists are bounded TopK aggregates ranked on the shared
    * 5-decimal score grid (cosine itself is exact-integer dot and
    * sum-of-squares over the signed hash counts, divided in the same
    * written order — bit-identical cross-engine), so ranks, the
    * integer-derived 1/(k0+rank) terms, and the fused top-10 all
    * match exactly. */
  private val RrfK = 20
  private val textRrf = Q("q_text_rrf",
    (s, d) => {
      val d0 = docs(s, d)
      val lex = Ranking.bm25(d0, "text", "doc_id", Bm25Terms)
        .select(col("doc_id"), round(col("score"), 5).as("sc5"))
      val lexR = Ranking.topRanks(lex, "sc5", "doc_id", RrfK)
      val qc = graft.ops.TextHashFns.hashEmbed(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(Bm25Terms.mkString(" ")), HashEmbedDim).toLongArray()
      val qss = qc.map(x => x * x).sum
      val cnt = graft.ops.HashEmbed.counts(col("text"), HashEmbedDim)
      val sem = d0.select(col("doc_id"),
          aggregate(zip_with(cnt, typedLit(qc.toSeq), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v).as("__dot"),
          graft.ops.PlanHints.computeOnce(
            aggregate(cnt, lit(0L), (acc, x) => acc + x * x)).as("__ss"))
        // __ss is computeOnce-pinned: a pushable __ss > 0 would sink
        // below the projection and re-run the hash-embed fold in a
        // Filter (PlanAudit r11)
        .where(col("__ss") > 0)
        .select(col("doc_id"),
          round(col("__dot").cast("double") /
            (sqrt(col("__ss").cast("double")) *
              sqrt(lit(qss.toDouble))), 5).as("cos5"))
      val semR = Ranking.topRanks(sem, "cos5", "doc_id", RrfK)
      Ranking.rrfFuse(lexR, semR, "doc_id")
        .select(col("doc_id"), coalesce(col("rank_a"), lit(0L)).as("lex_rank"),
          coalesce(col("rank_b"), lit(0L)).as("sem_rank"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }, {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val qc = graft.ops.TextHashFns.hashEmbed(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(Bm25Terms.mkString(" ")), HashEmbedDim).toLongArray()
      val qss = qc.map(x => x * x).sum
      val qlist = qc.mkString("[", ", ", "]")
      "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "dl AS (SELECT doc_id, source, len(ws) AS dl FROM t), " +
        "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
        "m AS (SELECT doc_id, unnest(list_filter(ws, " +
        s"w -> list_contains([$terms], w))) AS term FROM t), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM m " +
        "GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM m " +
        "GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, " +
        "sum(ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * " +
        "((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * ((1.0 - 0.75) + " +
        "0.75 * (dl.dl / st.avgdl))))) AS score " +
        "FROM tf JOIN dfreq USING (term) " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st " +
        "GROUP BY tf.doc_id), " +
        "lexr AS (SELECT doc_id, lr FROM (SELECT doc_id, row_number() " +
        "OVER (ORDER BY round(score, 5) DESC, doc_id ASC) AS lr " +
        s"FROM sc) WHERE lr <= $RrfK), " +
        "toks AS (SELECT doc_id, unnest(ws) AS tk FROM t), " +
        s"h AS (SELECT doc_id, ${TextAnalysis.TokenHashSql("tk")} " +
        "AS h FROM toks), " +
        s"v AS (SELECT doc_id, " +
        s"${graft.ops.HashEmbed.BucketSql("h", HashEmbedDim)} AS j, " +
        s"CAST(sum(${graft.ops.HashEmbed.SignSql("h", HashEmbedDim)}) " +
        "AS BIGINT) AS v FROM h GROUP BY 1, 2), " +
        s"semc AS (SELECT doc_id, round(CAST(sum(v * ($qlist)[j + 1]) " +
        "AS DOUBLE) / (sqrt(CAST(sum(v * v) AS DOUBLE)) * " +
        s"sqrt(CAST($qss AS DOUBLE))), 5) AS c " +
        "FROM v WHERE v <> 0 GROUP BY doc_id), " +
        "semr AS (SELECT doc_id, sr FROM (SELECT doc_id, row_number() " +
        "OVER (ORDER BY c DESC, doc_id ASC) AS sr FROM semc) " +
        s"WHERE sr <= $RrfK), " +
        "f AS (SELECT COALESCE(l.doc_id, s2.doc_id) AS doc_id, " +
        "l.lr, s2.sr FROM lexr l FULL OUTER JOIN semr s2 " +
        "ON l.doc_id = s2.doc_id) " +
        "SELECT doc_id, COALESCE(lr, 0) AS lex_rank, " +
        "COALESCE(sr, 0) AS sem_rank, " +
        "COALESCE(1.0 / (60.0 + CAST(lr AS DOUBLE)), 0.0) + " +
        "COALESCE(1.0 / (60.0 + CAST(sr AS DOUBLE)), 0.0) AS rrf " +
        "FROM f ORDER BY rrf DESC, doc_id LIMIT 10"
    })

  /** Multilingual fixture pages (the corpus is ASCII word soup, so the
    * script buckets beyond latin/space only fire on unioned fixtures —
    * the PII/C4 pattern). All chars BMP; no apostrophes. */
  private val scriptRows = Seq(
    (920001L, "привет мир как дела сегодня", "ru", "srcU", 0L),
    (920002L, "γεια σου κοσμε τι κανεις", "el", "srcU", 0L),
    (920003L, "你好世界今天天气很好", "zh", "srcU", 0L),
    (920004L, "안녕하세요 세계 오늘", "ko", "srcU", 0L),
    (920005L, "مرحبا بالعالم اليوم", "ar", "srcU", 0L),
    (920006L, "नमस्ते दुनिया आज", "hi", "srcU", 0L),
    (920007L, "hello мир 你好 123", "mix", "srcU", 0L),
    // empty page: zero counts, dominant 'none' — pins the
    // engines' divergent empty-split conventions (see the oracle)
    (920008L, "", "none", "srcU", 0L))

  /** Unicode script detection over explicit BMP codepoint ranges —
    * the signal upstream of language ID in a multilingual pipeline.
    * One codegen'd kernel pass per row ([[graft.ops.ScriptProfileExpr]]);
    * the oracle rebuilds the identical integer ranges per codepoint,
    * so counts and the first-max dominant label agree exactly. */
  private val textScripts = Q("q_text_scripts",
    (s, d) => {
      import s.implicits._
      val d0 = docs(s, d)
      val all = d0.unionByName(
        scriptRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val p = graft.ops.TextHashExpressions.scriptProfile(col("text"))
      all.select(col("source"), p.as("sp"))
        .groupBy(col("source"), col("sp.dominant").as("dominant"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("sp.n_latin")).as("n_latin"),
          sum(col("sp.n_cjk")).as("n_cjk"),
          sum(col("sp.n_space")).as("n_space"),
          sum(col("sp.n_digit") + col("sp.n_other")).as("n_rest"))
        .orderBy("source", "dominant")
    }, {
      val vals = scriptRows.map { case (id, t, l, src, nc) =>
        s"($id, '$t', '$l', '$src', $nc)" }.mkString(", ")
      // bucket CASE over the SAME integer ranges as the kernel
      val cls = "CASE WHEN (cp >= 97 AND cp <= 122) OR (cp >= 65 AND cp <= 90) " +
        "OR (cp >= 192 AND cp <= 591) THEN 0 " +
        "WHEN cp >= 1024 AND cp <= 1279 THEN 1 " +
        "WHEN cp >= 880 AND cp <= 1023 THEN 2 " +
        "WHEN cp >= 19968 AND cp <= 40959 THEN 3 " +
        "WHEN cp >= 44032 AND cp <= 55215 THEN 4 " +
        "WHEN cp >= 1536 AND cp <= 1791 THEN 5 " +
        "WHEN cp >= 2304 AND cp <= 2431 THEN 6 " +
        "WHEN cp >= 48 AND cp <= 57 THEN 7 " +
        "WHEN cp = 32 THEN 8 ELSE 9 END"
      val doms = Seq("latin", "cyrillic", "greek", "cjk", "hangul",
        "arabic", "devanagari")
      // first-in-order max wins, exactly the kernel's strict-> scan
      val domCase = "CASE WHEN greatest(c0, c1, c2, c3, c4, c5, c6) = 0 " +
        "THEN 'none' " + doms.zipWithIndex.map { case (nm, k) =>
          val rest = ((k + 1) until 7).map(j => s"c$j")
          val cond = if (rest.isEmpty) s"c$k > 0"
            else s"c$k >= greatest(${rest.mkString(", ")})"
          s"WHEN $cond THEN '$nm'"
        }.mkString(" ") + " END"
      "WITH alldocs AS (SELECT doc_id, text, lang, source, n_chars " +
        s"FROM documents UNION ALL SELECT * FROM (VALUES $vals) " +
        "AS v(doc_id, text, lang, source, n_chars)), " +
        // empty text yields NO char rows (string_split('','') is ['']
        // and unicode('') is -1, which would mint a phantom 'other'
        // count the Spark kernel never sees) — docs re-enter with
        // all-zero counts via the LEFT JOIN below
        "ch AS (SELECT doc_id, unicode(c) AS cp FROM (" +
        "SELECT doc_id, unnest(string_split(text, '')) AS c " +
        "FROM alldocs WHERE text <> '')), " +
        s"cl AS (SELECT doc_id, $cls AS k FROM ch), " +
        "piv0 AS (SELECT doc_id, " +
        (0 to 9).map(k =>
          s"sum(CASE WHEN k = $k THEN 1 ELSE 0 END) AS c$k")
          .mkString(", ") + " FROM cl GROUP BY doc_id), " +
        "piv AS (SELECT d.doc_id, d.source, " +
        (0 to 9).map(k => s"coalesce(p.c$k, 0) AS c$k").mkString(", ") +
        " FROM alldocs d LEFT JOIN piv0 p ON d.doc_id = p.doc_id), " +
        s"dom AS (SELECT source, $domCase AS dominant, c0, c3, c7, c8, c9 " +
        "FROM piv) " +
        "SELECT source, dominant, count(*) AS n_docs, " +
        "CAST(sum(c0) AS BIGINT) AS n_latin, " +
        "CAST(sum(c3) AS BIGINT) AS n_cjk, " +
        "CAST(sum(c8) AS BIGINT) AS n_space, " +
        "CAST(sum(c7 + c9) AS BIGINT) AS n_rest " +
        "FROM dom GROUP BY source, dominant ORDER BY source, dominant"
    })

  private val textFingerprint = Q("q_text_fingerprint",
    (s, d) => docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_distinct"),
        min(TextAnalysis.fingerprint(col("text"))).as("min_fp"))
      .orderBy("source"),
    "WITH fp AS (SELECT source, list_reduce(" +
      "list_prepend(CAST(0 AS BIGINT), " +
      "[CAST(ascii(c) AS BIGINT) for c in string_split(substr(text, 1, 64), '')]), " +
      "(a, b) -> (a * 31 + b) % 1000000007) AS f FROM documents) " +
      "SELECT source, count(*) AS n, count(DISTINCT f) AS n_distinct, " +
      "min(f) AS min_fp FROM fp GROUP BY source ORDER BY source")

  /** CCNet line-level dedup over a corpus with synthesized structure:
    * per-source boilerplate header/footer lines (document frequency =
    * the source's doc count) wrap each unique body. With maxDf=10 the
    * boilerplate vanishes and bodies survive — unless the body itself
    * repeats in >10 docs (the fixture's exact-dup families), which
    * the oracle reproduces too. Checksum pins the REASSEMBLED cleaned
    * text, so line order and separator fidelity are verified, not
    * just counts. [[TextAnalysis.lineDedup]]; line text never
    * shuffles (60-bit fps). */
  private val LineDedupMaxDf = 10
  private val textLineDedup = Q("q_text_linededup",
    (s, d) => {
      val syn = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("=== "), col("source"), lit(" header ===\n"),
          col("text"), lit("\nshared footer line\n(c) corpus "),
          col("source")).as("t"))
      TextAnalysis.lineDedup(syn, "t", "doc_id", LineDedupMaxDf)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total_lines")).as("sum_total"),
          sum(col("kept_lines")).as("sum_kept"),
          sum(TextAnalysis.tokenHash(col("cleaned")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "WITH d AS (SELECT doc_id, source, " +
      "'=== ' || source || ' header ===' || chr(10) || text || " +
      "chr(10) || 'shared footer line' || chr(10) || " +
      "'(c) corpus ' || source AS t FROM documents), " +
      "d2 AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls " +
      "FROM d), " +
      "l AS (SELECT doc_id, source, unnest([{'pos': i, " +
      s"'fp': ${TextAnalysis.TokenHashSql("trim(ls[i])")}} " +
      "for i in range(1, len(ls) + 1)]) AS u FROM d2), " +
      "lf AS (SELECT doc_id, source, u.pos AS pos, u.fp AS fp FROM l), " +
      "freq AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df " +
      s"FROM lf GROUP BY fp) WHERE df > $LineDedupMaxDf " +
      // empty trimmed lines are structure, not boilerplate (same
      // exclusion as the Spark op)
      s"AND fp <> ${TextAnalysis.TokenHashSql("''")}), " +
      "kept AS (SELECT lf.doc_id, lf.pos FROM lf LEFT JOIN freq " +
      "ON lf.fp = freq.fp WHERE freq.fp IS NULL), " +
      "re AS (SELECT d2.doc_id, d2.source, " +
      "coalesce(string_agg(d2.ls[kept.pos], chr(10) ORDER BY kept.pos), " +
      "'') AS cleaned, count(kept.pos) AS kept_lines, " +
      "min(len(d2.ls)) AS total_lines FROM d2 LEFT JOIN kept " +
      "ON d2.doc_id = kept.doc_id GROUP BY d2.doc_id, d2.source) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(total_lines) AS BIGINT) AS sum_total, " +
      "CAST(sum(kept_lines) AS BIGINT) AS sum_kept, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("cleaned")} % $DigestMod) " +
      "AS BIGINT) AS checksum FROM re GROUP BY source ORDER BY source")

  /** The incremental (fit → apply) line-dedup path, oracle-pinned:
    * the boilerplate set is FITTED on the synthesized corpus (driver-
    * collected, model-sized — the Bloom/centroid budget class) and
    * APPLIED as the pure per-row map new batches and streams run
    * ([[TextAnalysis.lineDedupApply]]). The oracle recomputes both
    * stages in SQL, so fit thresholding AND apply reassembly are
    * pinned cross-engine — and the result must equal the one-shot
    * [[TextAnalysis.lineDedup]] on the same corpus by construction
    * (asserted in LineDedupSpec; here each path is hash-checked
    * independently). */
  private val textLineDedupApply = Q("q_text_linededup_apply",
    (s, d) => {
      val syn = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("=== "), col("source"), lit(" header ===\n"),
          col("text"), lit("\nshared footer line\n(c) corpus "),
          col("source")).as("t"))
      val fps = TextAnalysis.frequentLineFps(syn, "t", "doc_id",
        LineDedupMaxDf)
      TextAnalysis.lineDedupApply(syn, "t", fps)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total_lines")).as("sum_total"),
          sum(col("kept_lines")).as("sum_kept"),
          sum(TextAnalysis.tokenHash(col("cleaned")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    // identical result contract to q_text_linededup: the apply path
    // must reproduce the one-shot path exactly
    "WITH d AS (SELECT doc_id, source, " +
      "'=== ' || source || ' header ===' || chr(10) || text || " +
      "chr(10) || 'shared footer line' || chr(10) || " +
      "'(c) corpus ' || source AS t FROM documents), " +
      "d2 AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls " +
      "FROM d), " +
      "l AS (SELECT doc_id, source, unnest([{'pos': i, " +
      s"'fp': ${TextAnalysis.TokenHashSql("trim(ls[i])")}} " +
      "for i in range(1, len(ls) + 1)]) AS u FROM d2), " +
      "lf AS (SELECT doc_id, source, u.pos AS pos, u.fp AS fp FROM l), " +
      "freq AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df " +
      s"FROM lf GROUP BY fp) WHERE df > $LineDedupMaxDf " +
      // empty trimmed lines are structure, not boilerplate (same
      // exclusion as the Spark op)
      s"AND fp <> ${TextAnalysis.TokenHashSql("''")}), " +
      "kept AS (SELECT lf.doc_id, lf.pos FROM lf LEFT JOIN freq " +
      "ON lf.fp = freq.fp WHERE freq.fp IS NULL), " +
      "re AS (SELECT d2.doc_id, d2.source, " +
      "coalesce(string_agg(d2.ls[kept.pos], chr(10) ORDER BY kept.pos), " +
      "'') AS cleaned, count(kept.pos) AS kept_lines, " +
      "min(len(d2.ls)) AS total_lines FROM d2 LEFT JOIN kept " +
      "ON d2.doc_id = kept.doc_id GROUP BY d2.doc_id, d2.source) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(total_lines) AS BIGINT) AS sum_total, " +
      "CAST(sum(kept_lines) AS BIGINT) AS sum_kept, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("cleaned")} % $DigestMod) " +
      "AS BIGINT) AS checksum FROM re GROUP BY source ORDER BY source")

  /** URL extraction + host normalization + URL-level dedup (the
    * crawl-curation trio): every URL found by the shared dialect-safe
    * regex, hosts lowercased with `www.` stripped, and docs deduped
    * on the canonical (host, path) of their FIRST url — the www/non-
    * www collision is synthesized deliberately, so n_kept matches
    * only if normalization actually fires. [[TextAnalysis.urlHost]].
    * Map-only extraction; the dedup is one (key → min id) hash agg. */
  private val textUrls = Q("q_text_urls",
    (s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
        concat(col("text"), lit(" see https://"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("www."))
            .otherwise(lit("")),
          lit("h"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com/p/"),
          pmod(col("doc_id"), lit(59)).cast("string"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" and http://mirror.example.org/x/"),
              pmod(col("doc_id"), lit(53)).cast("string")))
            .otherwise(lit(""))).as("t"))
      val urls = d0.select(col("source"),
        explode(regexp_extract_all(col("t"),
          lit(TextAnalysis.UrlRe), lit(0))).as("u"))
      val hostAgg = urls.groupBy("source")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(TextAnalysis.urlHost(col("u"))).as("n_hosts"))
      val prim = d0.select(col("doc_id"), col("source"),
        regexp_extract(col("t"), TextAnalysis.UrlRe, 0).as("first"))
        .select(col("doc_id"), col("source"),
          concat(TextAnalysis.urlHost(col("first")),
            regexp_extract(col("first"), "https?://[^/ ]+(/[^ ]*)", 1))
            .as("ukey"))
      val keep = prim.groupBy("ukey").agg(min(col("doc_id")).as("keep_id"))
      val keptBySource = prim.join(keep, Seq("ukey"))
        .where(col("doc_id") === col("keep_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      hostAgg.join(keptBySource, Seq("source")).orderBy("source")
    },
    "WITH d AS (SELECT doc_id, source, text || ' see https://' || " +
      "CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END || 'h' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || " +
      "CAST(doc_id % 59 AS VARCHAR) || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' and http://mirror.example.org/x/' " +
      "|| CAST(doc_id % 53 AS VARCHAR) ELSE '' END AS t FROM documents), " +
      s"u AS (SELECT source, unnest(regexp_extract_all(t, " +
      s"'${TextAnalysis.UrlRe}', 0)) AS u FROM d), " +
      "ha AS (SELECT source, count(*) AS n_urls, " +
      s"count(DISTINCT ${TextAnalysis.UrlHostSql("u")}) AS n_hosts " +
      "FROM u GROUP BY source), " +
      "p0 AS (SELECT doc_id, source, " +
      s"regexp_extract(t, '${TextAnalysis.UrlRe}', 0) AS f FROM d), " +
      s"prim AS (SELECT doc_id, source, ${TextAnalysis.UrlHostSql("f")} " +
      "|| regexp_extract(f, 'https?://[^/ ]+(/[^ ]*)', 1) AS ukey " +
      "FROM p0), " +
      "keep AS (SELECT ukey, min(doc_id) AS keep_id FROM prim " +
      "GROUP BY ukey), " +
      "kb AS (SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS kept_id_sum FROM prim JOIN keep " +
      "ON prim.ukey = keep.ukey AND prim.doc_id = keep.keep_id " +
      "GROUP BY source) " +
      "SELECT ha.source, n_urls, n_hosts, n_kept, kept_id_sum " +
      "FROM ha JOIN kb ON ha.source = kb.source ORDER BY ha.source")

  /** Zipf-law fit over the top-V vocabulary (the data-card language-
    * naturalness diagnostic: natural text slopes ≈ −1, boilerplate
    * and template corpora flatten or steepen): OLS of ln(tf) on
    * ln(rank). Scale shape is the vocabulary trick — counts aggregate
    * on 60-bit hashes, top-V selection is a TakeOrdered, and the
    * V-row tail packs into ONE sorted array whose OLS sums are
    * forward-order higher-order folds (no rank window, no second
    * scan). ln() on both engines sees identical integer counts and
    * identical fold order, so slope/intercept match bit for bit
    * before their round(5). */
  private val ZipfV = 100
  private val textZipf = Q("q_text_zipf",
    (s, d) => {
      val counts = docs(s, d)
        .select(explode(graft.ops.TextAnalysis.tokens(col("text")))
          .as("tok"))
        .select(graft.ops.TextAnalysis.tokenHash(col("tok")).as("th"))
        .groupBy("th").agg(count(lit(1)).as("tf"))
      val top = counts.orderBy(col("tf").desc, col("th").asc).limit(ZipfV)
      val packed = top.agg(sort_array(collect_list(
        struct((-col("tf")).as("nc"), col("th"), col("tf")))).as("l"))
      val idx = sequence(lit(1), size(col("l")))
      val xs = transform(idx, i => log(i.cast("double")))
      val ys = zip_with(idx, col("l"),
        (_, e) => log(e.getField("tf").cast("double")))
      def fsum(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(a, lit(0.0), (acc, v) => acc + v)
      val v = size(col("l")).cast("double")
      val sx = fsum(xs)
      val sy = fsum(ys)
      val sxy = fsum(zip_with(xs, ys, (a, b) => a * b))
      val sxx = fsum(transform(xs, a => a * a))
      val slope = (v * sxy - sx * sy) / (v * sxx - sx * sx)
      val icept = (sy - slope * sx) / v
      packed.select(size(col("l")).cast("long").as("v"),
        round(slope, 5).as("zipf_slope"),
        round(icept, 5).as("zipf_intercept"))
    },
    "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok " +
      "FROM documents), " +
      s"h AS (SELECT ${graft.ops.TextAnalysis.TokenHashSql("tok")} AS th " +
      "FROM toks), " +
      "c AS (SELECT th, count(*) AS tf FROM h GROUP BY th), " +
      s"top AS (SELECT th, tf FROM c ORDER BY tf DESC, th LIMIT $ZipfV), " +
      "l AS (SELECT list(tf ORDER BY tf DESC, th) AS l FROM top), " +
      "sums AS (SELECT len(l) AS v, " +
      "list_sum([ln(CAST(i AS DOUBLE)) " +
      "for i in generate_series(1, len(l))]) AS sx, " +
      "list_sum([ln(CAST(l[i] AS DOUBLE)) " +
      "for i in generate_series(1, len(l))]) AS sy, " +
      "list_sum([ln(CAST(i AS DOUBLE)) * ln(CAST(l[i] AS DOUBLE)) " +
      "for i in generate_series(1, len(l))]) AS sxy, " +
      "list_sum([ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)) " +
      "for i in generate_series(1, len(l))]) AS sxx FROM l) " +
      "SELECT CAST(v AS BIGINT) AS v, " +
      "round((CAST(v AS DOUBLE) * sxy - sx * sy) / " +
      "(CAST(v AS DOUBLE) * sxx - sx * sx), 5) AS zipf_slope, " +
      "round((sy - ((CAST(v AS DOUBLE) * sxy - sx * sy) / " +
      "(CAST(v AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(v AS DOUBLE), 5) " +
      "AS zipf_intercept FROM sums")

  /** Token-distribution drift between two corpus snapshots — the
    * text-side analogue of q_embed_drift ("did the ingest mix shift?"):
    * docs hash-split into reference/current halves, token mass
    * aggregated onto a 256-bucket hashed vocab, add-one-smoothed KL
    * in BOTH directions. Scale shape: tokens flow straight into ONE
    * map-side-partial aggregate on the (bucket ≤ 256) grain — token
    * strings never shuffle; the full bucket domain (including
    * zero-count buckets, which still carry smoothing mass) comes from
    * an in-plan range frame. Each KL term quantizes to int64 via the
    * guard-banded floor(y·2³⁰ + 0.5) (the q_stats_mi discipline — see
    * the MiFx note for the boundary analysis) so the sums are
    * order-independent and bit-exact cross-engine. */
  private val DriftV = 256
  private val textDrift = Q("q_text_drift",
    (s, d) => {
      val t = docs(s, d).select(
        pmod(TextAnalysis.tokenHash(col("doc_id").cast("string")), lit(2L))
          .as("side"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cells = t
        .select(col("side"),
          pmod(TextAnalysis.tokenHash(col("tok")), lit(DriftV.toLong))
            .as("b"))
        .groupBy("b")
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"))
      val dom = s.range(DriftV.toLong).toDF("b")
        .join(cells, Seq("b"), "left")
        .select(col("b"), coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1"))
      val tot = dom.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        sum(when(col("c0") + col("c1") > 0, 1L).otherwise(0L))
          .as("n_used"))
      val p0 = (col("c0").cast("double") + lit(1.0)) /
        (col("n0").cast("double") + lit(DriftV.toDouble))
      val p1 = (col("c1").cast("double") + lit(1.0)) /
        (col("n1").cast("double") + lit(DriftV.toDouble))
      dom.crossJoin(tot)
        .select(col("n0"), col("n1"), col("n_used"),
          floor(p1 * log(p1 / p0) * lit(MiFx) + lit(0.5)).cast("long")
            .as("f10"),
          floor(p0 * log(p0 / p1) * lit(MiFx) + lit(0.5)).cast("long")
            .as("f01"))
        .groupBy("n0", "n1", "n_used")
        .agg(round(sum(col("f10")).cast("double") / lit(MiFx), 5)
            .as("kl_cur_ref"),
          round(sum(col("f01")).cast("double") / lit(MiFx), 5)
            .as("kl_ref_cur"))
    },
    "WITH t AS (SELECT " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} % 2 " +
      "AS side, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "cells AS (SELECT " +
      s"${TextAnalysis.TokenHashSql("tok")} % $DriftV AS b, " +
      "sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c0, " +
      "sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c1 " +
      "FROM t GROUP BY 1), " +
      s"dom AS (SELECT r.range AS b, coalesce(cells.c0, 0) AS c0, " +
      s"coalesce(cells.c1, 0) AS c1 FROM range(0, $DriftV) r " +
      "LEFT JOIN cells ON r.range = cells.b), " +
      "tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, " +
      "CAST(sum(c1) AS BIGINT) AS n1, " +
      "CAST(sum(CASE WHEN c0 + c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_used FROM dom), " +
      "f AS (SELECT tot.n0, tot.n1, tot.n_used, " +
      "CAST(floor(((CAST(c1 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n1 AS DOUBLE) + $DriftV.0)) * " +
      "ln(((CAST(c1 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n1 AS DOUBLE) + $DriftV.0)) / " +
      "((CAST(c0 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n0 AS DOUBLE) + $DriftV.0))) * $MiFx + 0.5) AS BIGINT) " +
      "AS f10, " +
      "CAST(floor(((CAST(c0 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n0 AS DOUBLE) + $DriftV.0)) * " +
      "ln(((CAST(c0 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n0 AS DOUBLE) + $DriftV.0)) / " +
      "((CAST(c1 AS DOUBLE) + 1.0) / " +
      s"(CAST(tot.n1 AS DOUBLE) + $DriftV.0))) * $MiFx + 0.5) AS BIGINT) " +
      "AS f01 FROM dom CROSS JOIN tot) " +
      "SELECT n0, n1, n_used, " +
      s"round(CAST(sum(f10) AS DOUBLE) / $MiFx, 5) AS kl_cur_ref, " +
      s"round(CAST(sum(f01) AS DOUBLE) / $MiFx, 5) AS kl_ref_cur " +
      "FROM f GROUP BY n0, n1, n_used")

  /** Code-switch detection at the SEGMENT grain — doc-level langid
    * (q_text_langid) calls a bilingual doc one language; this op
    * segments each doc into 10-word windows, runs the SAME stopword
    * langid per segment, and reports per-source mixing stats. The
    * corpus is made genuinely code-switched by pairing each doc with
    * its XOR-1 neighbor (a deterministic, SF-stable pairing — ~74%
    * of pairs cross languages). Scale: the pairing is a self-join on
    * a computed key (shuffle on 8-byte ids), segmentation + langid
    * are per-row expressions feeding one map-side-combined two-level
    * agg — segment strings never shuffle. */
  private val textCodeswitch = Q("q_text_codeswitch",
    (s, d) => {
      val dd = docs(s, d)
      val b = dd.select(col("doc_id").as("bid"), col("text").as("btext"))
      val paired = dd.select(col("doc_id"), col("source"), col("text"))
        .join(b, col("bid") === col("doc_id").bitwiseXOR(lit(1L)), "left")
        .select(col("doc_id"), col("source"),
          concat_ws(" ", col("text"), col("btext")).as("t2"))
      val segs = paired
        .withColumn("ws", split(col("t2"), " "))
        .select(col("doc_id"), col("source"),
          explode(expr("transform(sequence(0, " +
            "cast(ceil(size(ws) / 10.0) as int) - 1), " +
            "i -> array_join(slice(ws, i*10+1, 10), ' '))")).as("seg"))
        .withColumn("pred", TextAnalysis.langId(col("seg")))
      val perDoc = segs.groupBy("doc_id", "source", "pred")
        .agg(count(lit(1)).as("n"))
        .groupBy("doc_id", "source")
        .agg(sum(col("n")).as("n_segs"),
          max(when(col("pred") =!= "und", col("n")).otherwise(0L))
            .as("dom"),
          countDistinct(when(col("pred") =!= "und", col("pred")))
            .as("n_langs"),
          sum((TextAnalysis.tokenHash(col("pred")) % lit(1000L)) *
            col("n")).as("pin"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_langs") >= 2, 1L).otherwise(0L)).as("n_mixed"),
          sum(col("n_segs")).as("sum_segs"),
          round(avg(col("dom").cast("double") /
            col("n_segs").cast("double")), 5).as("avg_dom"),
          sum(col("pin")).as("lang_pin"))
        .orderBy("source")
    }, {
      def stopOn(lang: String): String = {
        val lst = TextAnalysis.Stopwords(lang).map(w => s"'$w'")
          .mkString(", ")
        s"len(list_filter(sw, w -> list_contains([$lst], w)))"
      }
      val scores = TextAnalysis.LangPriority
        .map(l => s"${stopOn(l)} AS s_$l").mkString(", ")
      val maxS = TextAnalysis.LangPriority.map(l => s"s_$l")
        .mkString(", ")
      val cases = TextAnalysis.LangPriority.map(l =>
        s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
      "WITH p AS (SELECT a.doc_id, a.source, " +
        "concat_ws(' ', a.text, b.text) AS t2 FROM documents a " +
        "LEFT JOIN documents b ON b.doc_id = xor(a.doc_id, 1)), " +
        "w AS (SELECT doc_id, source, string_split(t2, ' ') AS ws " +
        "FROM p), " +
        "sg AS (SELECT doc_id, source, " +
        "unnest([ws[i*10+1 : i*10+10] " +
        "for i in range(0, CAST(ceil(len(ws) / 10.0) AS INT))]) " +
        "AS sw FROM w), " +
        s"sc AS (SELECT doc_id, source, $scores FROM sg), " +
        s"pr AS (SELECT doc_id, source, " +
        s"CASE $cases ELSE 'und' END AS pred FROM " +
        s"(SELECT *, greatest($maxS) AS m FROM sc)), " +
        "pc AS (SELECT doc_id, source, pred, count(*) AS n FROM pr " +
        "GROUP BY doc_id, source, pred), " +
        "dstat AS (SELECT doc_id, source, " +
        "CAST(sum(n) AS BIGINT) AS n_segs, " +
        "max(CASE WHEN pred <> 'und' THEN n ELSE 0 END) AS dom, " +
        "count(DISTINCT CASE WHEN pred <> 'und' THEN pred END) " +
        "AS n_langs, " +
        s"CAST(sum((${TextAnalysis.TokenHashSql("pred")} % 1000) * n) " +
        "AS BIGINT) AS pin FROM pc GROUP BY doc_id, source) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_mixed, " +
        "CAST(sum(n_segs) AS BIGINT) AS sum_segs, " +
        "round(avg(CAST(dom AS DOUBLE) / CAST(n_segs AS DOUBLE)), 5) " +
        "AS avg_dom, " +
        "CAST(sum(pin) AS BIGINT) AS lang_pin " +
        "FROM dstat GROUP BY source ORDER BY source"
    })

  /** Tokenizer-upgrade cost: segment every word occurrence under the
    * HALF vocabulary (first BpeRounds/2 merges) and the FULL one —
    * the BPE merge list is ordered, so the smaller vocab is a PREFIX
    * of the larger (one learn, two applies; no second training). The
    * per-source deltas (pieces saved, words re-segmented, fertility
    * drop) are exactly what a retokenization decision needs: how
    * much shorter do sequences get, and what fraction of the corpus
    * must be re-tokenized at all. `changed ⇔ fewer pieces` because
    * every applied merge strictly reduces the piece count. Oracle
    * replays learn→apply as CTE stages (the q_text_fertility
    * discipline) and reads BOTH the round-3 and round-6 states of
    * the SAME apply chain. */
  private val textBpeDiff = Q("q_text_bpediff",
    (s, d) => {
      val d0 = docs(s, d)
      val merges = graft.ops.Bpe.learn(d0, "text", BpeRounds)
        .map(m => (m.a, m.b))
      val half = merges.take(BpeRounds / 2)
      val words = d0.select(col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "" &&
          !col("tok").contains(graft.ops.Bpe.Delim))
      words.select(col("source"),
          size(graft.ops.Bpe.segment(col("tok"), half)).as("nph"),
          size(graft.ops.Bpe.segment(col("tok"), merges)).as("npf"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(col("nph").cast("long")).as("pieces_half"),
          sum(col("npf").cast("long")).as("pieces_full"),
          sum(when(col("npf") < col("nph"), 1L).otherwise(0L))
            .as("n_changed"),
          round(avg(col("nph").cast("double")), 5).as("fert_half"),
          round(avg(col("npf").cast("double")), 5).as("fert_full"))
        .orderBy("source")
    }, {
      val D = graft.ops.Bpe.DelimSql
      val halfR = BpeRounds / 2
      val applies = (1 to BpeRounds).map { r =>
        val prev = if (r == 1) "ws" else s"a${r - 1}"
        val carry = if (r == halfR + 1) "seq AS seq3, "
          else if (r > halfR + 1) "seq3, " else ""
        s"a$r AS (SELECT source, ${carry}replace(replace(seq, " +
          s"$D||a||$D||b||$D, $D||a||b||$D), " +
          s"$D||a||$D||b||$D, $D||a||b||$D) AS seq " +
          s"FROM $prev CROSS JOIN b$r)"
      }.mkString(", ")
      bpeLearnCtes +
        ", w AS (SELECT source, tok FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D)), " +
        s"ws AS (SELECT source, $D || " +
        s"array_to_string(string_split(tok, ''), $D) || $D AS seq " +
        s"FROM w), $applies, " +
        s"p AS (SELECT source, " +
        s"len(string_split(trim(seq3, $D), $D)) AS nph, " +
        s"len(string_split(trim(seq, $D), $D)) AS npf " +
        s"FROM a$BpeRounds) " +
        "SELECT source, count(*) AS n_words, " +
        "CAST(sum(nph) AS BIGINT) AS pieces_half, " +
        "CAST(sum(npf) AS BIGINT) AS pieces_full, " +
        "CAST(sum(CASE WHEN npf < nph THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_changed, " +
        "round(avg(nph::DOUBLE), 5) AS fert_half, " +
        "round(avg(npf::DOUBLE), 5) AS fert_full " +
        "FROM p GROUP BY source ORDER BY source"
    })

  /** Mojibake detection + repair ([[graft.ops.Mojibake]] — the ftfy/
    * CCNet encoding-damage pass): docs planted with three damage
    * shapes — single Latin-1 misdecode of a 2-byte char ("Ã©"),
    * misdecode spelling C1 control chars (the em-dash case, whose
    * middle bytes land in U+0080-U+009F), and DOUBLE-encoded text
    * needing two inversion passes — plus clean rows that must pass
    * untouched. The oracle constructs both the planted and the
    * expected-repaired strings directly and checksums the repaired
    * text, so a repair that over-fires on clean text, under-iterates
    * on double encoding, or mangles a byte anywhere breaks the hash;
    * per-pass counts pin the iteration depth. Pure per-row byte
    * work; strings never shuffle. */
  private val textMojibake = Q("q_text_mojibake",
    (s, d) => {
      val m = pmod(col("doc_id"), lit(4)).cast("int")
      val suffix = when(m === 1, lit(" cafÃ©"))
        .when(m === 2, lit(" xâ"))
        .when(m === 3, lit(" dÃÂ©"))
        .otherwise(lit(""))
      val src = docs(s, d).select(col("doc_id"), col("source"),
        concat(col("text"), suffix).as("planted"))
      graft.ops.Mojibake.fixColumn(src, "planted")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("moji_passes") === 0, 1L).otherwise(0L))
            .as("n_clean"),
          sum(when(col("moji_passes") === 1, 1L).otherwise(0L))
            .as("n_pass1"),
          sum(when(col("moji_passes") === 2, 1L).otherwise(0L))
            .as("n_pass2"),
          sum((length(col("planted")) - length(col("fixed")))
            .cast("long")).as("sum_delta"),
          sum(TextAnalysis.tokenHash(col("fixed")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, CAST(doc_id % 4 AS INT) AS m, " +
      "text || CASE CAST(doc_id % 4 AS INT) " +
      "WHEN 1 THEN ' cafÃ©' " +
      "WHEN 2 THEN ' xâ' " +
      "WHEN 3 THEN ' dÃÂ©' " +
      "ELSE '' END AS planted, " +
      "text || CASE CAST(doc_id % 4 AS INT) " +
      "WHEN 1 THEN ' café' " +
      "WHEN 2 THEN ' x—' " +
      "WHEN 3 THEN ' dé' " +
      "ELSE '' END AS fixed FROM documents) " +
      "SELECT source, count(*) AS n, " +
      "CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean, " +
      "CAST(sum(CASE WHEN m IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_pass1, " +
      "CAST(sum(CASE WHEN m = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass2, " +
      "CAST(sum(length(planted) - length(fixed)) AS BIGINT) AS sum_delta, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("fixed")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM p GROUP BY source ORDER BY source")

  /** URL canonicalization (RFC 3986 section 6) as the frontier-dedup
    * primitive: every doc's page URL arrives in TWO deliberately
    * messy spellings (case games, default/zero-padded ports, '..'
    * and '%2E' dot-segments, decodable and reserved percent-escapes,
    * fragments — [[Multimodal.messyUrl1]]/[[messyUrl2]]), and
    * [[graft.ops.Url.canonicalize]] must reduce both to the EXACT
    * canonical string the oracle rebuilds from doc_id — the checksum
    * hashes it, so one wrong normalization step fails every row.
    * distinct-canonical halving the listed count is the frontier
    * dedup itself. Map-only + one aggregate; strings never ride a
    * shuffle wider than the final group-by. */
  private val textUrlCanon = Q("q_text_urlcanon",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"))
      val withUrl = Multimodal.messyUrlsColumn(base, "doc_id")
      Url.canonicalColumn(withUrl, "url")
        .groupBy("source")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canonical_url")).as("n_frontier"),
          sum(length(col("canonical_url")).cast("long")).as("sum_len"),
          sum(TextAnalysis.tokenHash(col("canonical_url")) %
            lit(DigestMod)).as("checksum"))
        .orderBy("source")
    },
    s"WITH c AS (SELECT source, $CanonUrlSql AS cu FROM documents) " +
      "SELECT source, CAST(2 * count(*) AS BIGINT) AS n_urls, " +
      "count(*) AS n_frontier, " +
      "CAST(2 * sum(length(cu)) AS BIGINT) AS sum_len, " +
      s"CAST(2 * sum(${TextAnalysis.TokenHashSql("cu")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM c GROUP BY source ORDER BY source")

  val all: Seq[Q] = Seq(
    textLangid, textQuality, textTokens, textNormalize, textFingerprint,
    textVocab, vocabGrowth, textClassifier, textChunks, textBpe,
    textFertility, textEntropy, textHashEmbed, textScripts, textCalibration,
    textTopDups, textPerplexity, textPmi, textDistinctN, textBm25, textRrf,
    textPii, textContamination, textDupNgrams, textNovelty, textDrift,
    textLineDedup, textLineDedupApply, textUrls, textZipf, textKeywords,
    textBlocklist, textKneserNey, textCrossSource, textCodeswitch,
    textBpeDiff, textUnigramLm, textWordPiece, textWordPieceApply, textLuhn,
    textLicense, textMojibake, textUrlCanon)
}
