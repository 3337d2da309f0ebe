package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, NgramLm, Robots, Sampling, TextAnalysis, Url}
import QueryKit._

/** The q_pipeline_*, q_quality_* and q_source_* oracle queries: source
  * ingestion, quality filters and the end-to-end compositions. */
object CurationQueries {

  /** The round-4 end-to-end composition — the stages a current
    * training-data pipeline actually chains: PII scrub → learned-
    * classifier quality floor (fixed weights) → per-domain cap →
    * context-window chunking → per-source chunk manifests. Every
    * stage at its standalone operator's verified scale shape (maps,
    * one bounded TopK agg, map+explode); the final manifest pins doc
    * membership, chunk counts, token mass, and chunk-content
    * checksums cross-engine. */
  private val ModernFloor = 0.6
  private val ModernCap = 15
  private val pipelineModern = Q("q_pipeline_modern",
    (s, d) => {
      val d0 = docs(s, d)
      // persisted narrow projection: the classifier features all
      // reference text2, and Catalyst's CollapseProject would inline
      // the 5-regex scrub chain into EVERY feature expression (the
      // documented ngram-fingerprint trap — measured 2.9 s of a 3.4 s
      // query re-scrubbing ~10× per row); the persist is the barrier
      // that makes the scrub compute once per row, spill-safe at
      // scale (3 columns, the selectBudget doctrine)
      val scrubbed = graft.core.CacheRegistry.track(
        d0.select(col("doc_id"), col("source"),
          TextAnalysis.scrubPii(col("text")).as("text2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val scored = graft.ops.QualityClassifier
        .withFeatures(scrubbed, "text2")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .where(col("score") >= ModernFloor)
        .select("doc_id", "source")
      // kept ids carry the floor AND the cap, so survivors re-derive
      // only the scrubbed text — the scoring chain is evaluated once,
      // and the second scrub runs AFTER the id join (Catalyst keeps a
      // projection where you wrote it, so joining the pre-scrubbed
      // frame re-scrubbed every doc; joining raw docs first scrubs
      // only the ~cap·|sources| survivors)
      val ids = Sampling.domainCapIds(scored, "doc_id", "source", ModernCap)
      val capped = d0.join(ids, "doc_id")
        .select(col("doc_id"), col("source"),
          TextAnalysis.scrubPii(col("text")).as("text2"))
      TextAnalysis.chunks(capped, "text2", "doc_id",
          ChunkWindow, ChunkStride, keep = Seq("source"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("sum_tok"),
          sum(TextAnalysis.tokenHash(col("chunk")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    }, {
      val score = graft.ops.QualityClassifier.ScoreSql(ClsWeights, "text2")
      s"WITH sc AS (SELECT doc_id, source, " +
        s"${TextAnalysis.ScrubPiiSql("text")} AS text2 FROM documents), " +
        s"q AS (SELECT doc_id, source, text2 FROM sc " +
        s"WHERE $score >= $ModernFloor), " +
        "cap AS (SELECT doc_id, source, text2 FROM (" +
        "SELECT q.*, row_number() OVER (PARTITION BY source " +
        s"ORDER BY ${Sampling.HashFractionSql("doc_id")} ASC, doc_id ASC) " +
        s"AS rk FROM q) WHERE rk <= $ModernCap), " +
        s"${chunkChSql("cap", "text2")} " +
        "SELECT source, count(DISTINCT doc_id) AS n_docs, " +
        "count(*) AS n_chunks, CAST(sum(n_tok) AS BIGINT) AS sum_tok, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("chunk")} % $DigestMod) " +
        "AS BIGINT) AS checksum " +
        "FROM ch GROUP BY source ORDER BY source"
    })

  /** Round-6 end-to-end composition: corpus-wide dedup clusters →
    * leakage-safe group split (assignment INDEPENDENT of any filter,
    * so re-running with different floors never reshuffles splits) →
    * n-gram novelty floor → per-(split, source) release manifest.
    * Every stage at its standalone operator's verified scale shape;
    * docs too short to carry a trigram are excluded by construction
    * (no novelty evidence). */
  private val pipelineSelect = Q("q_pipeline_select",
    (s, d) => {
      val d0 = docs(s, d)
      val cl = Dedup.minhashClusters(d0, "text", "doc_id",
        maxBucket = MinhashCap)
      val sp = Sampling.groupSplit(cl, "cluster_id", 0.1, 0.1)
        .select("doc_id", "split")
      val rates = Dedup.noveltyRate(d0, "text", "doc_id")
        .select(col("doc_id"), col("novel_rate"))
      d0.select(col("doc_id"), col("source"), col("n_chars"))
        .join(sp, "doc_id").join(rates, "doc_id")
        .where(col("novel_rate") >= 0.3)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("split", "source")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "sp AS (SELECT node AS doc_id, " +
      s"CASE WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 " +
      "THEN 'val' " +
      s"WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 + 0.1 " +
      "THEN 'test' ELSE 'train' END AS split FROM comp), " +
      "nt AS (SELECT doc_id, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "ng AS (SELECT doc_id, unnest(list_distinct(" +
      s"[((hl[i] * 31 + hl[i+1]) % ${Dedup.NgramFpMod} * 31 + hl[i+2]) " +
      s"% ${Dedup.NgramFpMod} " +
      "for i in range(1, len(hl) - 1)])) AS gr FROM nt), " +
      "nfh AS (SELECT gr, min(doc_id) AS fid FROM ng GROUP BY gr), " +
      "nrate AS (SELECT ng.doc_id, " +
      "sum(CASE WHEN nfh.fid = ng.doc_id THEN 1 ELSE 0 END)::DOUBLE / " +
      "count(*)::DOUBLE AS nr FROM ng JOIN nfh USING (gr) " +
      "GROUP BY ng.doc_id) " +
      "SELECT sp.split, d.source, count(*) AS n_docs, " +
      "CAST(sum(d.n_chars) AS BIGINT) AS chars, " +
      "CAST(sum(d.doc_id) AS BIGINT) AS id_sum " +
      "FROM documents d JOIN sp ON d.doc_id = sp.doc_id " +
      "JOIN nrate ON d.doc_id = nrate.doc_id " +
      "WHERE nrate.nr >= 0.3 " +
      "GROUP BY sp.split, d.source ORDER BY sp.split, d.source")

  /** Soft deduplication (SlimPajama/SoftDeDup-style loss weights):
    * instead of DROPPING near-duplicates, every doc keeps weight
    * 1/|cluster| from the MinHash-cluster closure — a cluster of k
    * copies contributes one doc's worth of loss mass, but rare
    * phrasing inside the family still gets gradient signal. Per
    * source: docs, downweighted docs, effective doc mass Σ1/sz and
    * effective token mass Σ n_tok/sz (the number a token-budget
    * planner would consume). Reuses the verified O(log n)
    * alternating-star closure; the weight join runs on the post-agg
    * cluster grain (8-byte keys), texts never shuffle. */
  /** Post-training data-prep capstone — the stages an SFT corpus
    * actually chains, each at its standalone operator's verified
    * shape: Aho–Corasick blocklist DENSITY gate (one codegen'd pass;
    * block when total banned-phrase hits ≥ BlkMax — production
    * filters gate on density, an any-hit rule on a phrase list this
    * hot would block 92% of the corpus) →
    * quality floor (pure-IEEE score, so the threshold is
    * engine-exact) → exact keep-first dedup (md5 group, min id) →
    * chat-template render with loss masks. The manifest accounts for
    * every document: n_in = blocked + lowq + dup + kept per source,
    * and the rendered checksum + mask mass pin the surviving bytes
    * and geometry. */
  /** Per-source data card — the one-table summary a dataset ships
    * with, composing four verified sketch/rollup shapes into a single
    * wide row per source: doc/token mass, exact-dup rate (md5
    * distinct), mean quality (pure-IEEE score), HLL vocabulary
    * estimate, histogram length quantiles, and the dominant language
    * with its share (struct-argmax, ties to the lexicographically
    * last language — deterministic cross-engine). Every component
    * aggregates map-side to the source grain; the joins are
    * one-row-per-source. */
  private val pipelineDatacard = Q("q_pipeline_datacard",
    (s, d) => {
      val d0 = docs(s, d)
      val base = d0.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("tokens"),
        countDistinct(md5(col("text"))).as("n_unique"),
        round(avg(TextAnalysis.qualityScore(col("text"))), 5)
          .as("avg_q"))
      val vocab = graft.ops.Sketches.hllCardinalityBy(
          d0.select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("tok")),
          col("source"), col("tok"))
        .select(col("grp").as("source"),
          round(col("hll_estimate"), 5).as("vocab_est"))
      val ql = graft.ops.Sketches.histogramQuantilesBy(d0,
          col("source"), col("n_chars").cast("double"),
          lo = 0.0, hi = 640.0, nBuckets = 64, qs = Seq(0.5, 0.9))
        .select(col("grp").as("source"), col("p50"), col("p90"))
      val langTop = d0.groupBy("source", "lang")
        .agg(count(lit(1)).as("ln"))
        .groupBy("source")
        .agg(max(struct(col("ln"), col("lang"))).as("b"),
          sum(col("ln")).as("nl"))
        .select(col("source"), col("b.lang").as("lang_top"),
          round(col("b.ln").cast("double") / col("nl").cast("double"),
            5).as("lang_share"))
      base.join(vocab, "source").join(ql, "source")
        .join(langTop, "source")
        .select(col("source"), col("n_docs"), col("tokens"),
          round((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs").cast("double"), 5).as("dup_rate"),
          col("avg_q"), col("vocab_est"), col("p50"), col("p90"),
          col("lang_top"), col("lang_share"))
        .orderBy("source")
    }, {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      "WITH t AS (SELECT source, lang, text, n_chars, " +
        "string_split(text, ' ') AS ws FROM documents), " +
        "base AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(ws)) AS BIGINT) AS tokens, " +
        "count(DISTINCT md5(text)) AS n_unique, " +
        s"round(avg($QualitySql), 5) AS avg_q FROM t GROUP BY source), " +
        "toks AS (SELECT source, unnest(string_split(text, ' ')) " +
        "AS tok FROM documents), " +
        "v AS (SELECT grp AS source, round(hll_estimate, 5) " +
        "AS vocab_est FROM (" +
        graft.ops.Sketches.hllSqlBy("toks", "source", "tok") + ")), " +
        s"hh AS (SELECT source, ${BucketSql("n_chars", 0.0, 640.0, 64)} " +
        "AS b FROM documents), " +
        "hist AS (SELECT source, b, count(*) AS cnt FROM hh " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT source, b, cnt, sum(cnt) OVER " +
        "(PARTITION BY source ORDER BY b ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER (PARTITION BY source) AS n FROM hist), " +
        "w AS (SELECT source, " +
        s"${QuantileSql(0.5, 0.0, 640.0, 64)} AS p50, " +
        s"${QuantileSql(0.9, 0.0, 640.0, 64)} AS p90 " +
        "FROM c GROUP BY source), " +
        "lt AS (SELECT source, lang, count(*) AS ln FROM documents " +
        "GROUP BY 1, 2), " +
        "ltr AS (SELECT source, lang, ln, " +
        "sum(ln) OVER (PARTITION BY source) AS nl, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY ln DESC, lang DESC) AS rn FROM lt), " +
        "ltop AS (SELECT source, lang AS lang_top, " +
        "round(CAST(ln AS DOUBLE) / CAST(nl AS DOUBLE), 5) " +
        "AS lang_share FROM ltr WHERE rn = 1) " +
        "SELECT base.source, n_docs, tokens, " +
        "round(CAST(n_docs - n_unique AS DOUBLE) / " +
        "CAST(n_docs AS DOUBLE), 5) AS dup_rate, " +
        "avg_q, vocab_est, p50, p90, lang_top, lang_share " +
        "FROM base JOIN v USING (source) JOIN w USING (source) " +
        "JOIN ltop USING (source) ORDER BY source"
    })

  private val BlkMax = 8L
  private val pipelinePosttrain = Q("q_pipeline_posttrain",
    (s, d) => {
      val blkTotal = aggregate(
        graft.ops.Blocklist.matchCounts(col("text")),
        lit(0L), (a, v) => a + v)
      val withFlags = docs(s, d).select(col("doc_id"), col("source"),
        col("text"), (blkTotal < BlkMax).as("clean"),
        (TextAnalysis.qualityScore(col("text")) >= 0.5).as("hq"))
      val pass = withFlags.where(col("clean") && col("hq"))
      val keepIds = pass.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val kept = pass.join(keepIds, "doc_id")
      val ch = Sampling.chatTemplate(col("text"), col("doc_id"))
      val rendered = kept.select(col("source"),
          ch.getField("t").as("t"), ch.getField("masked").as("masked"),
          ch.getField("rendered").as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("t").cast("long")).as("n_turns"),
          sum(col("masked")).as("masked_toks"),
          sum(TextAnalysis.tokenHash(col("r")) % lit(CleanSumMod))
            .as("chat_sum"))
      withFlags.groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum(when(!col("clean"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(col("clean") && !col("hq"), 1L).otherwise(0L))
            .as("n_lowq"))
        .join(rendered, Seq("source"), "left")
        .na.fill(0L, Seq("n_kept", "n_turns", "masked_toks", "chat_sum"))
        .select(col("source"), col("n_in"), col("n_blocked"),
          col("n_lowq"),
          (col("n_in") - col("n_blocked") - col("n_lowq") -
            col("n_kept")).as("n_dup"),
          col("n_kept"), col("n_turns"), col("masked_toks"),
          col("chat_sum"))
        .orderBy("source")
    }, {
      val blkSum = graft.ops.BlocklistFns.Patterns.map(p =>
        s"((length(text) - length(replace(text, '$p', ''))) " +
          s"// ${p.length})").mkString(" + ")
      val tSql = s"CASE WHEN n >= 4 THEN 2 * (${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#chat'")} % 2 + 1) ELSE 1 END"
      "WITH f0 AS (SELECT doc_id, source, text, " +
        "string_split(text, ' ') AS ws FROM documents), " +
        "f AS (SELECT doc_id, source, text, " +
        s"(($blkSum) < $BlkMax) AS clean, " +
        s"($QualitySql >= 0.5) AS hq FROM f0), " +
        "kk AS (SELECT f.* FROM f JOIN (SELECT min(doc_id) AS doc_id " +
        "FROM f WHERE clean AND hq GROUP BY md5(text)) ki " +
        "USING (doc_id)), " +
        "t0 AS (SELECT source, doc_id, string_split(text, ' ') AS ws, " +
        "len(string_split(text, ' ')) AS n FROM kk), " +
        s"t AS (SELECT source, ws, n, $tSql AS tt FROM t0), " +
        "c AS (SELECT source, tt, " +
        "array_to_string([CASE WHEN i % 2 = 0 THEN '<|user|>' " +
        "ELSE '<|assistant|>' END || ' ' || " +
        "coalesce(array_to_string(ws[(i*n)//tt+1:((i+1)*n)//tt], ' '), '') " +
        "for i in generate_series(0, tt - 1)], ' ') || ' <|eos|>' AS r, " +
        "coalesce(list_sum([((i+1)*n)//tt - (i*n)//tt " +
        "for i in generate_series(1, tt - 1, 2)]), 0) AS masked " +
        "FROM t), " +
        "r AS (SELECT source, count(*) AS n_kept, " +
        "CAST(sum(tt) AS BIGINT) AS n_turns, " +
        "CAST(sum(masked) AS BIGINT) AS masked_toks, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("r")} % $CleanSumMod) " +
        "AS BIGINT) AS chat_sum FROM c GROUP BY source), " +
        "st AS (SELECT source, count(*) AS n_in, " +
        "CAST(sum(CASE WHEN NOT clean THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_blocked, " +
        "CAST(sum(CASE WHEN clean AND NOT hq THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_lowq FROM f GROUP BY source) " +
        "SELECT st.source, st.n_in, st.n_blocked, st.n_lowq, " +
        "st.n_in - st.n_blocked - st.n_lowq - coalesce(r.n_kept, 0) " +
        "AS n_dup, " +
        "coalesce(r.n_kept, 0) AS n_kept, " +
        "coalesce(r.n_turns, 0) AS n_turns, " +
        "coalesce(r.masked_toks, 0) AS masked_toks, " +
        "coalesce(r.chat_sum, 0) AS chat_sum " +
        "FROM st LEFT JOIN r USING (source) ORDER BY st.source"
    })

  /** Scan-free parquet-footer metadata query
    * ([[graft.ops.ParquetMeta]]): count / min / max / null-count of
    * `documents.doc_id` computed ENTIRELY from row-group footer
    * statistics — no data page is read — against the oracle's full
    * scan. Metadata == data is the exact correctness property a
    * manifest/catalog answer needs at 100 TB (where this is a
    * seconds-vs-cluster-hours distinction). `n_nostats` pins that
    * every row group actually carried statistics (a group without
    * stats makes the metadata answer unknowable, and min/max over
    * nulls would silently understate — the guard turns that into a
    * visible mismatch). */
  private val sourceParquetMeta = Q("q_source_parquetmeta",
    (s, d) => {
      val rg = graft.ops.ParquetMeta.rowGroupStats(s,
        s"$d/documents.parquet", "doc_id")
      rg.agg(
        sum(col("n_rows")).as("total_rows"),
        min(col("min_v")).as("min_id"),
        max(col("max_v")).as("max_id"),
        sum(col("n_nulls")).as("null_ids"),
        sum(when(col("min_v").isNull || col("max_v").isNull, 1L)
          .otherwise(0L)).as("n_nostats"))
    },
    "SELECT count(*) AS total_rows, min(doc_id) AS min_id, " +
      "max(doc_id) AS max_id, " +
      "CAST(count(*) - count(doc_id) AS BIGINT) AS null_ids, " +
      "CAST(0 AS BIGINT) AS n_nostats FROM documents")

  /** CCNet-style per-chunk LM filtering (Wenzek et al. 2020): train
    * the bigram LM on the FULL corpus, score every disjoint 32-token
    * chunk, keep chunks under the perplexity bar, and account for the
    * kept mass per source — the "drop the boilerplate paragraphs,
    * keep the prose" curation stage, at the chunk grain a trainer
    * actually consumes.
    *
    * Scale shape: LM counts are two hash aggregates on 45-bit keys
    * (the verified q_text_perplexity shape); chunk bigrams join the
    * count tables many-to-one on post-agg keys; the keep decision is
    * INTEGER (per-bigram −ln p floor-quantized to 2⁻³⁰, summed exactly,
    * compared against τ_fx·n_bigrams) so no order-dependent double sum
    * ever gates a chunk. Same documented last-ulp-ln caveat as
    * q_stats_mi. Single-token chunks are unscoreable and dropped
    * (counted as n_unscored). */
  private val CcnetW = 32
  private val CcnetCap = 4096L
  private val CcnetFx = 1073741824.0 // 2^30
  private val CcnetTauFx = 3639984880L // floor(3.39 * 2^30)
  private val qualityCcnet = Q("q_quality_ccnet",
    (s, d) => {
      val d0 = docs(s, d)
      // pinned hash lists (train's three subplans shared one tokenize
      // pass) + pinned chunk frame (read by the scoring subplan AND
      // the final keep join — unpinned, the chunker ran twice)
      // UNPINNED throughout (measured, r14 optimization round): the
      // training side is only 3 passes here and scoring runs on the
      // CHUNK grain, so a pinned hash-list frame saved less than its
      // materialization cost (0.93 s pinned vs 0.73 s not), and
      // pinning the chunk STRINGS was worse still (1.18 s) — payload
      // frames don't earn a barrier, only narrow reused hash frames
      // with 4+ consumers do (cf. q_text_perplexity, q_sample_rho).
      val lm = NgramLm.train(d0, "text", "doc_id")
      val ch = TextAnalysis.chunks(d0, "text", "doc_id", CcnetW, CcnetW,
          keep = Seq("source"))
        .select(col("source"), col("chunk"), col("n_tok"),
          (col("doc_id") * lit(CcnetCap) + col("chunk_id")).as("cid"))
      val fp = floor(-log((col("cb") + lit(1.0)) /
        (col("cu") + lit(lm.vocab)).cast("double")) * lit(CcnetFx))
        .cast("long")
      val sc = NgramLm.bigramRows(ch, "chunk", "cid")
        .join(lm.bigrams, Seq("b"), "left")
        .join(lm.prefixes, Seq("w1"), "left")
        .na.fill(0L, Seq("cb", "cu"))
        .select(col("cid"), fp.as("fp"))
        .groupBy("cid")
        .agg(count(lit(1)).as("nb"), sum(col("fp")).as("sfp"))
      ch.join(sc, Seq("cid"), "left")
        .select(col("source"), col("n_tok"), col("chunk"), col("nb"),
          when(col("nb").isNotNull &&
            col("sfp") <= lit(CcnetTauFx) * col("nb"), 1L)
            .otherwise(0L).as("kept"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nb").isNull, 1L).otherwise(0L)).as("n_unscored"),
          sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1, col("n_tok")).otherwise(0L))
            .as("kept_toks"),
          sum(when(col("kept") === 1,
            TextAnalysis.tokenHash(col("chunk")) % lit(DigestMod))
            .otherwise(0L)).as("kept_ck"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      s"WITH t AS (SELECT doc_id, source, string_split(text, ' ') " +
        "AS toks FROM documents), " +
        s"tl AS (SELECT [${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in toks] AS hl FROM t), " +
        "bg0 AS (SELECT unnest([{'w1': hl[i], " +
        s"'b': (hl[i]*31 + hl[i+1]) % $M} " +
        "for i in range(1, len(hl))]) AS u FROM tl), " +
        "bg AS (SELECT u.w1 AS w1, u.b AS b FROM bg0), " +
        "cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b), " +
        "cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT h) AS v FROM " +
        "(SELECT unnest(hl) AS h FROM tl)), " +
        "c AS (SELECT doc_id, source, toks, len(toks) AS n, " +
        "unnest(range(0, CAST(floor((greatest(len(toks) - " +
        s"$CcnetW, 0) + ${CcnetW - 1})::DOUBLE / $CcnetW.0) AS INT) " +
        "+ 1)) AS chunk_id FROM t), " +
        s"ch AS (SELECT source, doc_id*$CcnetCap + chunk_id AS cid, " +
        s"array_to_string(list_slice(toks, chunk_id*$CcnetW + 1, " +
        s"chunk_id*$CcnetW + $CcnetW), ' ') AS chunk, " +
        s"least($CcnetW, n - chunk_id*$CcnetW) AS n_tok FROM c), " +
        s"chl AS (SELECT cid, [${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(chunk, ' ')] AS hl FROM ch), " +
        "cbg0 AS (SELECT cid, unnest([{'w1': hl[i], " +
        s"'b': (hl[i]*31 + hl[i+1]) % $M} " +
        "for i in range(1, len(hl))]) AS u FROM chl " +
        "WHERE len(hl) >= 2), " +
        "cbg AS (SELECT cid, u.w1 AS w1, u.b AS b FROM cbg0), " +
        "sc AS (SELECT cid, count(*) AS nb, " +
        "sum(CAST(floor(-ln((COALESCE(cb.cb, 0) + 1.0) / " +
        "CAST(COALESCE(cu.cu, 0) + v.v AS DOUBLE)) * " +
        s"$CcnetFx) AS BIGINT)) AS sfp " +
        "FROM cbg LEFT JOIN cb USING (b) LEFT JOIN cu USING (w1) " +
        "CROSS JOIN v GROUP BY cid), " +
        "k AS (SELECT ch.source, ch.n_tok, ch.chunk, sc.nb, " +
        s"CASE WHEN sc.nb IS NOT NULL AND sc.sfp <= $CcnetTauFx * sc.nb " +
        "THEN 1 ELSE 0 END AS kept " +
        "FROM ch LEFT JOIN sc USING (cid)) " +
        "SELECT source, count(*) AS n_chunks, " +
        "CAST(sum(CASE WHEN nb IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_unscored, " +
        "CAST(sum(kept) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) " +
        "AS kept_toks, " +
        s"CAST(sum(CASE WHEN kept = 1 THEN " +
        s"${TextAnalysis.TokenHashSql("chunk")} % $DigestMod " +
        "ELSE 0 END) AS BIGINT) AS kept_ck " +
        "FROM k GROUP BY source ORDER BY source"
    })

  /** C4 fixture pages (the corpus is single-line word soup with no
    * terminal punctuation, so — as with PII — both engines union
    * identical fixture rows that actually exercise the line rules).
    * Lines are joined with \n here and with chr(10) in SQL; no
    * apostrophes (SQL literal safety). */
  private val c4Rows: Seq[(Long, Seq[String], String, String, Long)] = Seq(
    (910001L, Seq(
      "this page keeps every single line intact today.",
      "a second good sentence with enough words here!",
      "does this question line also survive the filter?",
      "the quoted closer has plenty of words \""),
      "en", "srcC4", 0L),
    (910002L, Seq(
      "only two lines here pass the punctuation rule.",
      "short line.",
      "no terminal punctuation on this line at all",
      "the other surviving sentence sits right here."),
      "en", "srcC4", 0L),
    (910003L, Seq(
      "lorem ipsum dolor sit amet consectetur adipiscing.",
      "a perfectly fine sentence with many words inside.",
      "another perfectly fine sentence with many words.",
      "and a third good one to clear the line minimum."),
      "en", "srcC4", 0L),
    (910004L, Seq(
      "this page mentions JavaScript inside a good line.",
      "a perfectly fine sentence with many words inside.",
      "another perfectly fine sentence with many words."),
      "en", "srcC4", 0L),
    (910005L, Seq(
      "a brace { lurks within this otherwise good page.",
      "a perfectly fine sentence with many words inside.",
      "another perfectly fine sentence with many words."),
      "en", "srcC4", 0L),
    (910006L, Seq(
      "trailing spaces after the period still count.   ",
      "  leading spaces get trimmed before the check.",
      "five words exactly suffice here."),
      "en", "srcC4", 0L))

  /** C4 cleaning (Raffel et al. 2020 §2.2): line-ending punctuation +
    * min-word line filter, min-kept-lines + badword page filter; the
    * cleaned-text digest pins the surviving strings byte-for-byte.
    * Map-only over the corpus — the same one-scan shape as the other
    * quality filters. */
  private val textC4 = Q("q_quality_c4",
    (s, d) => {
      import s.implicits._
      val d0 = docs(s, d)
      val all = d0.unionByName(
        c4Rows.map { case (id, ls, l, src, nc) => (id, ls.mkString("\n"), l, src, nc) }
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      val f = TextAnalysis.c4Flags(col("text"))
      all.select(col("source"), f.as("c4"))
        .select(col("source"), col("c4.kept_lines").as("kl"),
          col("c4.total_lines").as("tl"), col("c4.keep").as("keep"),
          (TextAnalysis.tokenHash(col("c4.cleaned")) % lit(DigestMod))
            .as("dg"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          sum(col("kl")).as("kept_lines"),
          sum(col("tl")).as("total_lines"),
          sum(col("dg")).as("clean_digest"))
        .orderBy("source")
    }, {
      val vals = c4Rows.map { case (id, ls, l, src, nc) =>
        val t = ls.map(s0 => s"'$s0'").mkString(" || chr(10) || ")
        s"($id, $t, '$l', '$src', $nc)"
      }.mkString(", ")
      val f = TextAnalysis.C4FlagsSql("text")
      "WITH alldocs AS (SELECT doc_id, text, lang, source, n_chars " +
        s"FROM documents UNION ALL SELECT * FROM (VALUES $vals) " +
        "AS v(doc_id, text, lang, source, n_chars)), " +
        s"c AS (SELECT source, ${f("kept_lines")} AS kl, " +
        s"${f("total_lines")} AS tl, ${f("keep")} AS keep, " +
        s"(${TextAnalysis.TokenHashSql(f("cleaned"))} % $DigestMod) AS dg " +
        "FROM alldocs) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, " +
        "CAST(sum(kl) AS BIGINT) AS kept_lines, " +
        "CAST(sum(tl) AS BIGINT) AS total_lines, " +
        "CAST(sum(dg) AS BIGINT) AS clean_digest " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** End-to-end corpus curation — the composition a training-data
    * pipeline actually runs: quality-floor filter → MinHash group
    * dedup over the survivors (keep min-id representative) →
    * per-source survivor counts. One quality scan, one signature
    * aggregate, one id join back: every stage is the scale shape its
    * standalone operator verified. */
  private val curation = Q("q_pipeline_curation",
    (s, d) => {
      val d0 = docs(s, d)
      val kept = d0.where(TextAnalysis.qualityScore(col("text")) >= 0.7)
      val keepIds = Dedup.minhashGroups(kept, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      d0.join(keepIds, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, {
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, text, $QualitySql AS qs FROM t), " +
        "toksF AS (SELECT doc_id, " +
        "unnest(list_distinct(string_split(text, ' '))) AS tok " +
        "FROM q WHERE qs >= 0.7), " +
        "hF AS (SELECT doc_id, " +
        s"${TextAnalysis.TokenHashSql("tok")} AS th FROM toksF), " +
        s"sigs AS (SELECT doc_id, $sigSql FROM hF GROUP BY doc_id), " +
        s"g AS (SELECT min(doc_id) AS keep_id FROM sigs GROUP BY $sigList) " +
        "SELECT d.source, count(*) AS n_kept FROM g " +
        "JOIN documents d ON g.keep_id = d.doc_id " +
        "GROUP BY d.source ORDER BY d.source"
    })

  /** The WHOLE training-mix pipeline in one plan: quality floor →
    * MinHash group dedup → temperature-flattened domain sampling →
    * deterministic shard manifests. Every stage is individually
    * oracle-verified; this query proves they COMPOSE identically on
    * both engines — the end-to-end "prepare the training data" run. */
  private val TrainmixAlpha = 0.7
  private val TrainmixTarget = 50.0
  private val trainMix = Q("q_pipeline_trainmix",
    (s, d) => {
      val d0 = docs(s, d)
      val kept = d0.where(TextAnalysis.qualityScore(col("text")) >= 0.7)
      val keepIds = Dedup.minhashGroups(kept, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val deduped = d0.join(keepIds, "doc_id")
      val sampled = Sampling.temperatureSample(deduped, "doc_id", "source",
        TrainmixAlpha, TrainmixTarget)
      manifestOf(sampled, nShards = 4)
    }, {
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, text, $QualitySql AS qs FROM t), " +
        "toksF AS (SELECT doc_id, " +
        "unnest(list_distinct(string_split(text, ' '))) AS tok " +
        "FROM q WHERE qs >= 0.7), " +
        "hF AS (SELECT doc_id, " +
        s"${TextAnalysis.TokenHashSql("tok")} AS th FROM toksF), " +
        s"sigs AS (SELECT doc_id, $sigSql FROM hF GROUP BY doc_id), " +
        s"g AS (SELECT min(doc_id) AS keep_id FROM sigs GROUP BY $sigList), " +
        "dd AS (SELECT d.* FROM g JOIN documents d ON g.keep_id = d.doc_id), " +
        "c AS (SELECT source, count(*) AS n FROM dd GROUP BY source), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c), " +
        "w AS (SELECT source, n, pow(CAST(n AS DOUBLE) / " +
        s"CAST(tot AS DOUBLE), $TrainmixAlpha) AS w FROM c CROSS JOIN tt), " +
        "sw AS (SELECT sum(w) AS sw FROM w), " +
        "r AS (SELECT source, least(1.0, " +
        s"$TrainmixTarget * (w / sw) / CAST(n AS DOUBLE)) AS rate " +
        "FROM w CROSS JOIN sw), " +
        "sampled AS (SELECT dd.doc_id, dd.text, dd.n_chars FROM dd " +
        "JOIN r USING (source) " +
        s"WHERE ${Sampling.HashFractionSql("dd.doc_id")} < r.rate) " +
        manifestSql("sampled", nShards = 4)
    })

  /** WARC ingestion round-trip: docs → per-(source, shard) .warc.gz
    * files (member-per-record gzip, warcinfo + HTTP-wrapped response
    * records — the Common Crawl layout) → streaming inflate + record
    * walk → per-(source, type) aggregates. The oracle recomputes the
    * byte-exact framing arithmetic (entity strlen, the HTTP envelope
    * 62 + digits(len) + len, the 33-byte warcinfo payload, distinct
    * shard count) straight from the documents table, so a parser that
    * mis-walks Content-Length, mis-splits the HTTP envelope, or drops
    * a gzip member breaks the hash. [[graft.ops.Warc]]. */
  private val sourceWarc = Q("q_source_warc",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        concat(lit("https://example.com/"), col("source"), lit("/"),
          col("doc_id")).as("uri"),
        col("text"))
      val files = Multimodal.warcBuildFiles(src, Seq("source", "shard"),
        "uri", "doc_id", "text")
      Multimodal.warcRecordsColumn(files, "media")
        .groupBy("source", "warc_type")
        .agg(count(lit(1)).as("n"),
          sum(col("n_body_bytes")).as("sum_body"),
          sum(col("content_length")).as("sum_clen"),
          sum(col("http_status").cast("long")).as("sum_status"),
          countDistinct(col("uri")).as("n_uri"))
        .orderBy("source", "warc_type")
    },
    "WITH resp AS (SELECT source, count(*) AS n, " +
      "CAST(sum(strlen(text)) AS BIGINT) AS sum_body, " +
      "CAST(sum(62 + length(CAST(strlen(text) AS VARCHAR)) " +
      "+ strlen(text)) AS BIGINT) AS sum_clen, " +
      "CAST(count(*) * 200 AS BIGINT) AS sum_status, " +
      "count(DISTINCT doc_id) AS n_uri FROM documents GROUP BY source), " +
      "info AS (SELECT source, count(DISTINCT doc_id % 8) AS nf " +
      "FROM documents GROUP BY source) " +
      "SELECT source, 'response' AS warc_type, n, sum_body, sum_clen, " +
      "sum_status, n_uri FROM resp " +
      "UNION ALL " +
      "SELECT source, 'warcinfo' AS warc_type, nf AS n, " +
      "CAST(nf * 33 AS BIGINT) AS sum_body, " +
      "CAST(nf * 33 AS BIGINT) AS sum_clen, " +
      "CAST(0 AS BIGINT) AS sum_status, CAST(1 AS BIGINT) AS n_uri " +
      "FROM info ORDER BY source, warc_type")

  /** Markdown ingestion: docs wrapped in deterministic markdown
    * structure (heading, blockquote, fenced code, list, link, image,
    * emphasis, rule) → [[graft.ops.Markdown]] structure profile +
    * text extraction → per-source aggregates. The cleaned-text
    * checksum pins the ENTIRE regexp chain cross-engine — a chain
    * step that strips one character differently breaks the hash; the
    * structure sums pin the counting patterns. Pure per-row maps, no
    * shuffle before the final agg. */
  private val sourceMarkdown = Q("q_source_markdown",
    (s, d) => {
      import graft.ops.Markdown
      val md = concat(
        lit("# Doc "), col("doc_id"), lit("\n\n> intro quote\n\n"),
        col("text"),
        lit("\n\n```\ncode "), col("doc_id"),
        lit("\nsecond line\n```\n\n- first item\n- see [doc link]" +
          "(https://x.example/"),
        col("doc_id"),
        lit(")\n\n**bold** and *ital* words\n\n---\n\n![figure "),
        col("doc_id"), lit("](img.png)\n"))
      docs(s, d)
        .select(col("source"), md.as("md"))
        .select(col("source"), Markdown.structure(col("md")).as("st"),
          Markdown.extractText(col("md")).as("clean"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("st.n_headings")).as("sum_headings"),
          sum(col("st.n_fences")).as("sum_fences"),
          sum(col("st.n_images")).as("sum_images"),
          sum(col("st.n_links")).as("sum_links"),
          sum(col("st.n_list_items")).as("sum_items"),
          sum(length(col("clean")).cast("long")).as("sum_chars"),
          sum(TextAnalysis.tokenHash(col("clean")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    }, {
      val st = graft.ops.Markdown.StructureSql("md")
      "WITH m AS (SELECT source, '# Doc ' || doc_id || " +
        "'\n\n> intro quote\n\n' || text || '\n\n```\ncode ' || doc_id " +
        "|| '\nsecond line\n```\n\n- first item\n- see [doc link]" +
        "(https://x.example/' || doc_id || " +
        "')\n\n**bold** and *ital* words\n\n---\n\n![figure ' || " +
        "doc_id || '](img.png)\n' AS md FROM documents), " +
        s"c AS (SELECT source, ${st("n_headings")} AS nh, " +
        s"${st("n_fences")} AS nf, ${st("n_images")} AS ni, " +
        s"${st("n_links")} AS nl, ${st("n_list_items")} AS nli, " +
        s"${graft.ops.Markdown.ExtractTextSql("md")} AS clean FROM m) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(nh) AS BIGINT) AS sum_headings, " +
        "CAST(sum(nf) AS BIGINT) AS sum_fences, " +
        "CAST(sum(ni) AS BIGINT) AS sum_images, " +
        "CAST(sum(nl) AS BIGINT) AS sum_links, " +
        "CAST(sum(nli) AS BIGINT) AS sum_items, " +
        "CAST(sum(length(clean)) AS BIGINT) AS sum_chars, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("clean")} % $DigestMod) " +
        "AS BIGINT) AS checksum " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** The FULL crawl-ingestion pipeline in one plan: docs → template
    * HTML pages (escaped body, nav/script/style/comment noise) →
    * per-(source, shard) .warc.gz files → gzip-member record walk →
    * HTTP envelope strip → HTML text extraction. The oracle
    * recomputes each doc's expected extracted text from the template
    * formula (title line, nav lines, whitespace-normalized body,
    * footer) and checksums it — so the gzip framing, WARC walk, HTTP
    * split, tag/script strip, entity decode, and whitespace rules
    * must ALL be exact for the hash to match. This is the
    * WARC→documents path a 100 TB crawl actually runs; page bytes
    * never leave their partition end to end. */
  private val pipelineIngest = Q("q_pipeline_ingest",
    (s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        concat(lit("Doc "), col("doc_id").cast("string")).as("title"),
        col("text"))
      val pages = Multimodal.htmlBuildColumn(d0, "title", "text",
        Seq("Home", "About"))
      val withUri = pages.select(col("doc_id"), col("source"),
        col("shard"),
        concat(lit("https://crawl.example.com/"), col("source"),
          lit("/"), col("doc_id").cast("string")).as("uri"),
        col("html"))
      val files = Multimodal.warcBuildFiles(withUri,
        Seq("source", "shard"), "uri", "doc_id", "html")
      val recs = Multimodal.warcRecordsColumn(files, "media")
        .where(col("warc_type") === "response")
      Multimodal.htmlTextColumn(recs, "body_text", "cleaned")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("cleaned")).cast("long")).as("sum_len"),
          sum(TextAnalysis.tokenHash(col("cleaned")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "WITH b AS (SELECT doc_id, source, " +
      "trim(regexp_replace(replace(text, chr(10), ' '), " +
      "'[ \\t\\r]+', ' ', 'g')) AS body FROM documents), " +
      "c AS (SELECT doc_id, source, " +
      "'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || 'Home' || " +
      "chr(10) || 'About' || chr(10) || " +
      "CASE WHEN body = '' THEN '' ELSE body || chr(10) END || " +
      "'&copy; example inc' AS cleaned FROM b) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(length(cleaned)) AS BIGINT) AS sum_len, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("cleaned")} % $DigestMod) " +
      "AS BIGINT) AS checksum FROM c GROUP BY source ORDER BY source")

  /** Robots-GATED crawl ingestion (r14 — real crawls gate at fetch
    * time, not post-hoc): the [[pipelineIngest]] chain with
    * [[graft.ops.Robots.decisionColumn]] composed BEFORE the WARC
    * build, so disallowed pages never enter the archive. Per-host
    * robots files and the URL paths reuse the q_source_robots
    * fixture axes (specific-agent shadowing, longest-match ties, the
    * /tmp wildcard); the oracle recomposes the RFC truth table with
    * the extraction formula — the checksum covers ONLY archived
    * pages, so a gate that leaks one disallowed page (or drops one
    * allowed page) into the .warc.gz breaks the hash. Grain is
    * (source, host): the per-host block counts a polite crawler
    * reports. Page bytes never leave their partition. */
  private val pipelineIngestRobots = Q("q_pipeline_ingest_robots",
    (s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(8)).as("shard"),
          concat(lit("Doc "), col("doc_id").cast("string")).as("title"),
          col("text"))
        .withColumn("h", pmod(col("doc_id"), lit(8)).cast("int"))
        .withColumn("pidx", pmod(col("doc_id") * 3, lit(5)).cast("int"))
        .withColumn("path", element_at(array(lit("/a"), lit("/private/x"),
          lit("/private/ok/y"), lit("/tmp/z"), lit("/b")),
          col("pidx") + 1))
        .withColumn("robots", concat(
          lit("# fixture\nUser-agent: *\nDisallow: /private\n" +
            "Allow: /private/ok\n"),
          when(pmod(col("h"), lit(3)) === 0, "Disallow: /tmp/*\n")
            .otherwise(""),
          when(pmod(col("h"), lit(2)) === 0, "Allow: /a$\nDisallow: /a\n")
            .otherwise(""),
          concat(lit("Crawl-delay: "), col("h"), lit("\n")),
          when(pmod(col("h"), lit(4)) === 0,
            "\nUser-agent: graftbot\nDisallow: /b\n").otherwise("")))
      val gated = graft.ops.Robots.decisionColumn(d0, "robots", "path",
        "graftbot")
      val gate = gated.groupBy("source", "h")
        .agg(count(lit(1)).as("n_pages"),
          sum(when(!col("allowed"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(!col("allowed"), col("doc_id")).otherwise(0L))
            .as("sum_doc_blocked"))
      val pages = Multimodal.htmlBuildColumn(
        gated.where(col("allowed")), "title", "text", Seq("Home", "About"))
      val withUri = pages.select(col("doc_id"), col("source"), col("h"),
        col("shard"),
        concat(lit("https://h"), col("h"), lit(".example.com"),
          col("path"), lit("/"), col("doc_id").cast("string")).as("uri"),
        col("html"))
      val files = Multimodal.warcBuildFiles(withUri,
        Seq("source", "h", "shard"), "uri", "doc_id", "html")
      val recs = Multimodal.warcRecordsColumn(files, "media")
        .where(col("warc_type") === "response")
      val arch = Multimodal.htmlTextColumn(recs, "body_text", "cleaned")
        .groupBy("source", "h")
        .agg(count(lit(1)).as("n_archived"),
          sum(length(col("cleaned")).cast("long")).as("sum_len"),
          sum(TextAnalysis.tokenHash(col("cleaned")) % lit(DigestMod))
            .as("checksum"))
      gate.join(arch, Seq("source", "h"), "left")
        .select(col("source"), col("h").as("host"), col("n_pages"),
          col("n_blocked"),
          coalesce(col("n_archived"), lit(0L)).as("n_archived"),
          col("sum_doc_blocked"),
          coalesce(col("sum_len"), lit(0L)).as("sum_len"),
          coalesce(col("checksum"), lit(0L)).as("checksum"))
        .orderBy("source", "host")
    },
    "WITH p AS (SELECT doc_id, source, CAST(doc_id % 8 AS INT) AS h, " +
      "CAST((doc_id * 3) % 5 AS INT) AS pidx, " +
      "trim(regexp_replace(replace(text, chr(10), ' '), " +
      "'[ \\t\\r]+', ' ', 'g')) AS body FROM documents), " +
      // same hand-derived RFC truth table as q_source_robots
      "q AS (SELECT *, CASE WHEN h % 4 = 0 THEN pidx <> 4 " +
      "WHEN pidx = 1 THEN FALSE " +
      "WHEN pidx = 3 THEN h % 3 <> 0 " +
      "ELSE TRUE END AS allowed FROM p), " +
      "c AS (SELECT doc_id, source, h, allowed, " +
      "'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || 'Home' || " +
      "chr(10) || 'About' || chr(10) || " +
      "CASE WHEN body = '' THEN '' ELSE body || chr(10) END || " +
      "'&copy; example inc' AS cleaned FROM q) " +
      "SELECT source, h AS host, count(*) AS n_pages, " +
      "CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) " +
      "AS n_blocked, " +
      "CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_archived, " +
      "CAST(sum(CASE WHEN allowed THEN 0 ELSE doc_id END) AS BIGINT) " +
      "AS sum_doc_blocked, " +
      "CAST(sum(CASE WHEN allowed THEN length(cleaned) ELSE 0 END) " +
      "AS BIGINT) AS sum_len, " +
      s"CAST(sum(CASE WHEN allowed THEN " +
      s"${TextAnalysis.TokenHashSql("cleaned")} % $DigestMod " +
      "ELSE 0 END) AS BIGINT) AS checksum " +
      "FROM c GROUP BY source, h ORDER BY source, host")

  /** Corpus snapshot diff: the "new" snapshot is derived from the old
    * one by deterministic hash classes — drop draws < 0.1 (removed),
    * append ' edited' for draws in [0.1, 0.2) (changed), re-id draws
    * ≥ 0.9 as fresh docs (added) — so both engines construct the
    * identical pair of snapshots and the release manifest (counts AND
    * per-status id checksums) must match exactly. */
  private val pipelineDiff = Q("q_pipeline_diff",
    (s, d) => {
      val d0 = docs(s, d).select("doc_id", "text", "source")
      val draw = Sampling.hashFraction(col("doc_id"))
      val kept = d0.where(draw >= 0.1)
        .withColumn("text", when(draw < 0.2,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
      val added = d0.where(draw >= 0.9)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          col("source"))
      val diff = graft.ops.Diff.corpusDiff(d0, kept.unionByName(added),
        "doc_id", "text", "source")
      graft.ops.Diff.diffManifest(diff, "doc_id", "source")
        .orderBy("source")
    }, {
      val draw = Sampling.HashFractionSql("doc_id")
      s"WITH o AS (SELECT doc_id, text, source FROM documents), " +
        s"w AS (SELECT doc_id, text, source, $draw AS draw FROM documents), " +
        "n AS (SELECT doc_id, CASE WHEN draw < 0.2 " +
        "THEN text || ' edited' ELSE text END AS text, source " +
        "FROM w WHERE draw >= 0.1 " +
        "UNION ALL SELECT doc_id + 10000000, text, source " +
        "FROM w WHERE draw >= 0.9), " +
        s"fo AS (SELECT doc_id, ${TextAnalysis.TokenHashSql("text")} " +
        "AS fp_old, source AS meta_old FROM o), " +
        s"fn AS (SELECT doc_id, ${TextAnalysis.TokenHashSql("text")} " +
        "AS fp_new, source AS meta_new FROM n), " +
        "dj AS (SELECT coalesce(fo.doc_id, fn.doc_id) AS doc_id, " +
        // presence on the join's id columns + null-safe fp compare,
        // mirroring Diff.corpusDiff's null-text contract
        "CASE WHEN fo.doc_id IS NULL THEN 'added' " +
        "WHEN fn.doc_id IS NULL THEN 'removed' " +
        "WHEN fp_old IS NOT DISTINCT FROM fp_new THEN 'unchanged' " +
        "ELSE 'changed' END AS status, " +
        "coalesce(meta_new, meta_old) AS source " +
        "FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_added, " +
        "CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_removed, " +
        "CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_changed, " +
        "CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_unchanged, " +
        "CAST(sum(CASE WHEN status = 'added' THEN doc_id ELSE 0 END) " +
        "AS BIGINT) AS added_ids, " +
        "CAST(sum(CASE WHEN status = 'removed' THEN doc_id ELSE 0 END) " +
        "AS BIGINT) AS removed_ids, " +
        "CAST(sum(CASE WHEN status = 'changed' THEN doc_id ELSE 0 END) " +
        "AS BIGINT) AS changed_ids " +
        "FROM dj GROUP BY source ORDER BY source"
    })

  /** Round-9 end-to-end composition — corpus to TRAINING ORDER:
    * per-domain token-budget selection (q_sample_budget's stage) →
    * deterministic epoch-salted shuffle (q_sample_shuffle's stage,
    * epoch 0) → no-split greedy packing IN SHUFFLED ORDER within the
    * shuffle's own shards ([[Sampling.packNoSplitOrdered]] — packing
    * id order would undo the shuffle). Every stage at its standalone
    * operator's verified shape; the assign checksum pins (rank, bin)
    * for every kept doc, i.e. the complete physical training layout,
    * cross-engine. */
  private val pipelineTrainorder = Q("q_pipeline_trainorder",
    (s, d) => {
      val kept = Sampling.selectBudget(budgetScored(s, d), "source",
          "score", "nt", "doc_id", SelBudgetNum, SelBudgetDen)
        .select("doc_id", "nt")
      val sh = Sampling.epochShuffle(kept.select("doc_id"), "doc_id",
          ShufShards, 1)
        .join(kept, Seq("doc_id"))
      Sampling.packNoSplitOrdered(sh, col("shard"), col("rank"),
          col("nt"), PackWindow, ShufShards)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          (max(col("bin")) + 1).as("n_bins"),
          sum(col("t")).as("toks"),
          ((max(col("bin")) + 1) * PackWindow - sum(col("t")))
            .as("waste"),
          sum((col("ord") % AssignMod * 31 + col("bin") % AssignMod)
            % AssignMod).as("assign_sum"))
        .orderBy("shard")
    },
    "WITH RECURSIVE s AS (SELECT doc_id, source, " +
      "len(string_split(text, ' ')) AS nt, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      "b AS (SELECT source, " +
      s"CAST(sum(nt) * $SelBudgetNum // $SelBudgetDen AS BIGINT) " +
      "AS budget FROM s GROUP BY source), " +
      "r AS (SELECT s.*, sum(nt) OVER (PARTITION BY source " +
      "ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM s), " +
      "k AS (SELECT r.doc_id, r.nt FROM r JOIN b USING (source) " +
      "WHERE r.cum <= b.budget), " +
      "sh AS (SELECT doc_id, nt, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#shf#0'")} " +
      s"% $ShufShards AS shard, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#ord#0'")} AS okey FROM k), " +
      "rk AS MATERIALIZED (SELECT shard, nt, " +
      s"least(nt, $PackWindow) AS tt, " +
      "row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) - 1 " +
      "AS rnk, " +
      "row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) " +
      "AS rn FROM sh), " +
      "walk AS (" +
      "SELECT shard, rn, rnk, nt, tt, CAST(0 AS BIGINT) AS bin, " +
      "tt AS fill FROM rk WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT rk.shard, rk.rn, rk.rnk, rk.nt, rk.tt, " +
      s"CASE WHEN w2.fill + rk.tt <= $PackWindow THEN w2.bin " +
      "ELSE w2.bin + 1 END, " +
      s"CASE WHEN w2.fill + rk.tt <= $PackWindow " +
      "THEN w2.fill + rk.tt ELSE rk.tt END " +
      "FROM walk w2 JOIN rk ON rk.shard = w2.shard " +
      "AND rk.rn = w2.rn + 1) " +
      "SELECT shard, count(*) AS n_docs, " +
      "CAST(max(bin) + 1 AS BIGINT) AS n_bins, " +
      "CAST(sum(tt) AS BIGINT) AS toks, " +
      s"CAST((max(bin) + 1) * $PackWindow - sum(tt) AS BIGINT) " +
      "AS waste, " +
      s"CAST(sum((rnk % $AssignMod * 31 + bin % $AssignMod) " +
      s"% $AssignMod) AS BIGINT) AS assign_sum " +
      "FROM walk GROUP BY shard ORDER BY shard")

  /** Gopher composite quality filter: per-source keep / per-rule fail
    * counts plus the signal averages. The SQL re-derives every signal
    * from the same constants ([[TextAnalysis.GopherMinWords]] etc.)
    * and the same per-language stopword sums (a token in two
    * languages' lists counts twice on both engines). */
  private val qualityGopher = Q("q_quality_gopher",
    (s, d) => docs(s, d)
      .select(col("source"), TextAnalysis.gopherFlags(col("text")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g.keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(!col("g.pass_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(!col("g.pass_wl"), 1L).otherwise(0L)).as("n_fail_wl"),
        sum(when(!col("g.pass_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
        round(avg(col("g.mean_wl")), 5).as("avg_mwl"),
        round(avg(col("g.stop_ratio")), 5).as("avg_stop"))
      .orderBy("source"),
    {
      import TextAnalysis.{GopherMinWords => WLo, GopherMaxWords => WHi,
        GopherMinWordLen => LLo, GopherMaxWordLen => LHi,
        GopherMinStopRatio => SLo}
      val swSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      "WITH t AS (SELECT source, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "s AS (SELECT source, len(ws) AS nw, " +
        "(length(text) - (len(ws) - 1))::DOUBLE / len(ws) AS mwl, " +
        s"($swSum)::DOUBLE / len(ws) AS sr FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        s"CAST(sum(CASE WHEN nw >= $WLo AND nw <= $WHi AND mwl >= $LLo " +
        s"AND mwl <= $LHi AND sr >= $SLo THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_keep, " +
        s"CAST(sum(CASE WHEN nw < $WLo OR nw > $WHi THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_fail_len, " +
        s"CAST(sum(CASE WHEN mwl < $LLo OR mwl > $LHi THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_fail_wl, " +
        s"CAST(sum(CASE WHEN sr < $SLo THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_fail_stop, " +
        "round(avg(mwl), 5) AS avg_mwl, round(avg(sr), 5) AS avg_stop " +
        "FROM s GROUP BY source ORDER BY source"
    })

  /** Right-to-be-forgotten propagation through the dedup closure — the
    * operational op a deduplicated corpus needs when removal requests
    * (opt-outs, takedowns) land AFTER dedup: dropping a cluster's
    * canonical must PROMOTE the best surviving duplicate, or content
    * still held by non-requested sources silently vanishes from the
    * kept set. Removal list = doc_id ≡ 3 (mod 17). The promote pass is
    * ONE struct-max hash aggregation over the cluster closure (no
    * window): max(n_chars, −id) over all members vs over survivors —
    * the canonical was removed iff the two differ. Scale: the closure
    * is the verified O(log n) CC machinery
    * ([[graft.ops.Dedup.minhashClusters]]); this adds a map-side-
    * combined agg over ~24 B (cluster, id, chars, flag) rows and a
    * final scalar fold — removal compliance costs one scan on top of
    * the closure you already maintain. */
  private val pipelineForget = Q("q_pipeline_forget",
    (s, d) => {
      val dd = docs(s, d)
      val cl = Dedup.minhashClusters(dd, "text", "doc_id",
        maxBucket = MinhashCap)
      val j = cl.join(dd.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("removed", pmod(col("doc_id"), lit(17L)) === lit(3L))
      val best = j.groupBy("cluster_id").agg(
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("ball"),
        max(when(!col("removed"),
          struct(col("n_chars"), (-col("doc_id")).as("nid")))).as("bsurv"))
      best.agg(
        sum(col("n_removed")).as("n_requested"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_touched"),
        sum(when(col("bsurv").isNull, 1L).otherwise(0L)).as("n_lost"),
        sum(when(col("bsurv").isNotNull &&
            !(col("bsurv") <=> col("ball")), 1L).otherwise(0L))
          .as("n_promoted"),
        sum(when(col("bsurv").isNotNull, 1L).otherwise(0L))
          .as("n_kept_after"),
        sum(-col("bsurv").getField("nid")).as("keep_id_sum_after"))
    },
    s"WITH RECURSIVE $closureCtes, " +
      "j AS (SELECT comp.cluster_id, comp.node AS doc_id, d.n_chars, " +
      "CASE WHEN comp.node % 17 = 3 THEN 1 ELSE 0 END AS removed " +
      "FROM comp JOIN documents d ON comp.node = d.doc_id), " +
      "rk AS (SELECT cluster_id, doc_id, n_chars, removed, " +
      "row_number() OVER (PARTITION BY cluster_id " +
      "ORDER BY n_chars DESC, doc_id ASC) AS rn_all, " +
      "row_number() OVER (PARTITION BY cluster_id, removed " +
      "ORDER BY n_chars DESC, doc_id ASC) AS rn_grp FROM j), " +
      "cl AS (SELECT cluster_id, sum(removed) AS n_removed, " +
      "max(CASE WHEN rn_all = 1 THEN removed END) AS keep_all_removed, " +
      "max(CASE WHEN removed = 0 AND rn_grp = 1 THEN doc_id END) " +
      "AS keep_surv FROM rk GROUP BY cluster_id) " +
      "SELECT CAST(sum(n_removed) AS BIGINT) AS n_requested, " +
      "CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_touched, " +
      "CAST(sum(CASE WHEN keep_surv IS NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_lost, " +
      "CAST(sum(CASE WHEN keep_surv IS NOT NULL " +
      "AND keep_all_removed = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_promoted, " +
      "CAST(sum(CASE WHEN keep_surv IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_kept_after, " +
      "CAST(sum(keep_surv) AS BIGINT) AS keep_id_sum_after FROM cl")

  /** Opt-out / takedown compliance at the URL grain, composed with
    * forget-propagation (the q_pipeline_forget closure): a takedown
    * list of canonical (host[, path]) entries — host-wide or exact-
    * path — matches each doc's PRIMARY url (the q_text_urls formula;
    * hosts canonicalized by stripping a leading "www."), and removal
    * propagates to the doc's WHOLE minhash near-dup cluster, the
    * GDPR/robots-compliance semantics a real pipeline must honor (a
    * takedown that leaves the near-duplicate copies is not a
    * takedown). The takedown list is a broadcast table (model-sized
    * joins, corpus never re-shuffles on it). Pins: per-source direct
    * and propagated removal counts, the removed-doc digest (both
    * engines must agree doc-for-doc on URL match AND cluster
    * closure), n_clusters_touched, and n_straddle — clusters left
    * with both removed and kept members — which must be 0 BY
    * MEASUREMENT on both engines, not by assumption. */
  private val pipelineOptout = Q("q_pipeline_optout",
    (s, d) => {
      import s.implicits._
      val dd = docs(s, d)
      val d0 = dd.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" see https://"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("www."))
            .otherwise(lit("")),
          lit("h"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com/p/"),
          pmod(col("doc_id"), lit(59)).cast("string")).as("t"))
      val prim = d0.select(col("doc_id"), col("source"),
          regexp_extract(col("t"), TextAnalysis.UrlRe, 0).as("first"))
        .select(col("doc_id"), col("source"),
          regexp_replace(TextAnalysis.urlHost(col("first")),
            "^www\\.", "").as("chost"),
          regexp_extract(col("first"), "https?://[^/ ]+(/[^ ]*)", 1)
            .as("pth"))
      // exact-path entries (td_path "" would opt out a whole host —
      // with this corpus's ~6 giant near-dup families that removes
      // everything, so the fixture stays at the path grain; the
      // /p/37 entry matches a doc_id ≡ 0 (mod 4) doc, whose url
      // carries the "www." prefix the canonicalization must strip)
      val takedown = Seq(("h3.example.com", "/p/17"),
        ("h5.example.com", "/p/29"),
        ("h5.example.com", "/p/37")).toDF("td_host", "td_path")
      val direct = prim.join(broadcast(takedown),
          col("chost") === col("td_host") &&
            (col("td_path") === "" || col("td_path") === col("pth")),
          "left")
        .groupBy("doc_id", "source")
        .agg(max(when(col("td_host").isNotNull, 1L).otherwise(0L))
          .as("direct"))
      val cl = Dedup.minhashClusters(dd, "text", "doc_id",
        maxBucket = MinhashCap)
      // persisted narrow (doc, cluster, direct-flag) frame: it feeds
      // the cluster-removal aggregate AND the label join — without
      // it the whole minhash chain upstream would run twice
      val j = graft.core.CacheRegistry.track(
        cl.join(direct, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val crm = j.groupBy("cluster_id")
        .agg(max(col("direct")).as("removed"))
      val lab = graft.core.CacheRegistry.track(
        j.join(crm, "cluster_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val perSource = lab.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("direct")).as("n_direct"),
          sum(col("removed")).as("n_removed"),
          (sum(col("removed")) - sum(col("direct"))).as("n_propagated"),
          (count(lit(1)) - sum(col("removed"))).as("n_kept"),
          sum(when(col("removed") === 1L,
            pmod(col("doc_id") * 131L + 7L, lit(CleanSumMod)))
            .otherwise(0L)).as("removed_digest"))
      val gl = lab.groupBy("cluster_id")
        .agg(countDistinct(col("removed")).as("nv"),
          max(col("removed")).as("rm"))
        .agg(sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_straddle"),
          sum(when(col("rm") === 1L, 1L).otherwise(0L))
            .as("n_clusters_touched"))
      perSource.crossJoin(gl).orderBy("source")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "du AS (SELECT doc_id, source, text || ' see https://' || " +
      "CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END || 'h' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || " +
      "CAST(doc_id % 59 AS VARCHAR) AS t FROM documents), " +
      "p0 AS (SELECT doc_id, source, " +
      s"regexp_extract(t, '${TextAnalysis.UrlRe}', 0) AS f FROM du), " +
      "pr AS (SELECT doc_id, source, " +
      s"regexp_replace(${TextAnalysis.UrlHostSql("f")}, " +
      "'^www\\.', '') AS chost, " +
      "regexp_extract(f, 'https?://[^/ ]+(/[^ ]*)', 1) AS pth " +
      "FROM p0), " +
      "td AS (SELECT * FROM (VALUES ('h3.example.com', '/p/17'), " +
      "('h5.example.com', '/p/29'), ('h5.example.com', '/p/37')) " +
      "t(h, p)), " +
      "dir AS (SELECT pr.doc_id, pr.source, " +
      "max(CASE WHEN td.h IS NOT NULL THEN 1 ELSE 0 END) AS direct " +
      "FROM pr LEFT JOIN td ON pr.chost = td.h " +
      "AND (td.p = '' OR td.p = pr.pth) GROUP BY pr.doc_id, pr.source), " +
      "crm AS (SELECT comp.cluster_id, max(dir.direct) AS removed " +
      "FROM comp JOIN dir ON comp.node = dir.doc_id " +
      "GROUP BY comp.cluster_id), " +
      "fin AS (SELECT dir.doc_id, dir.source, dir.direct, " +
      "crm.removed, comp.cluster_id FROM dir " +
      "JOIN comp ON comp.node = dir.doc_id " +
      "JOIN crm USING (cluster_id)), " +
      "st AS (SELECT CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_straddle, " +
      "CAST(sum(CASE WHEN rm = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_clusters_touched FROM (SELECT cluster_id, " +
      "count(DISTINCT removed) AS nv, max(removed) AS rm FROM fin " +
      "GROUP BY cluster_id)) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(direct) AS BIGINT) AS n_direct, " +
      "CAST(sum(removed) AS BIGINT) AS n_removed, " +
      "CAST(sum(removed) - sum(direct) AS BIGINT) AS n_propagated, " +
      "CAST(count(*) - sum(removed) AS BIGINT) AS n_kept, " +
      "CAST(sum(CASE WHEN removed = 1 THEN " +
      s"(doc_id * 131 + 7) % $CleanSumMod ELSE 0 END) AS BIGINT) " +
      "AS removed_digest, " +
      "(SELECT n_straddle FROM st) AS n_straddle, " +
      "(SELECT n_clusters_touched FROM st) AS n_clusters_touched " +
      "FROM fin GROUP BY source ORDER BY source")

  /** Filter-attrition attribution — the data-card Sankey numbers for
    * the curation funnel: for each of four independently-verified
    * gates (quality floor, min length, langid, templated-prefix
    * dedup — first 10 normalized tokens, the boilerplate key that
    * actually fires on this corpus where byte-exact dedup finds
    * nothing), report
    * `n_fail` (fails it at all), `n_first_fail` (the waterfall: its
    * FIRST failing gate in pipeline order), and `n_only_fail` (the
    * marginal: what dropping JUST this gate would regain — fails
    * only it). First-fail sums to n_docs − n_kept by construction;
    * only-fail ≤ fail shows gate overlap. Scale shape: one text
    * scan computes all four predicates (the dedup flag is the min-id
    * group join on the 40-char-bounded prefix key), the 4-way explode is
    * constant-width, and everything lands in one map-side-combined
    * (stage) aggregate — no window, text never shuffles. */
  private val pipelineAttrition = Q("q_pipeline_attrition",
    (s, d) => {
      val d0 = docs(s, d)
      // text-dependent predicates evaluate BEFORE the key join, so
      // only (doc_id, k, 3 bits) shuffles — text stays in its scan;
      // persisted (5 narrow columns, spill-safe) because the frame
      // feeds BOTH the gmin group-by and the flags join, and each of
      // the two downstream consumers (ex, global) rebuilds that join
      // — without the barrier the normalize/quality/langid chain ran
      // in every scan (the round-10 double-scan finding)
      val keyed = graft.core.CacheRegistry.track(
        d0.select(col("doc_id"),
          array_join(slice(split(TextAnalysis.normalize(col("text")), " "),
            1, 10), " ").as("k"),
          (TextAnalysis.qualityScore(col("text")) >= 0.7).as("p1"),
          (TextAnalysis.wordCount(col("text")) >= 25).as("p2"),
          (TextAnalysis.langId(col("text")) =!= "und").as("p3"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val gmin = keyed.groupBy("k").agg(min(col("doc_id")).as("km"))
      val flags = keyed.join(gmin, "k").select(col("doc_id"),
        col("p1"), col("p2"), col("p3"),
        (col("doc_id") === col("km")).as("p4"))
      val ex = flags.select(explode(array(
          struct(lit(1).as("stage"), lit("quality").as("gate"),
            (!col("p1")).as("f"), (!col("p1")).as("ff"),
            (!col("p1") && col("p2") && col("p3") && col("p4")).as("fo")),
          struct(lit(2).as("stage"), lit("length").as("gate"),
            (!col("p2")).as("f"), (col("p1") && !col("p2")).as("ff"),
            (col("p1") && !col("p2") && col("p3") && col("p4")).as("fo")),
          struct(lit(3).as("stage"), lit("langid").as("gate"),
            (!col("p3")).as("f"),
            (col("p1") && col("p2") && !col("p3")).as("ff"),
            (col("p1") && col("p2") && !col("p3") && col("p4")).as("fo")),
          struct(lit(4).as("stage"), lit("dedup").as("gate"),
            (!col("p4")).as("f"),
            (col("p1") && col("p2") && col("p3") && !col("p4")).as("ff"),
            (col("p1") && col("p2") && col("p3") && !col("p4")).as("fo"))))
          .as("r"))
        .select(col("r.stage"), col("r.gate"), col("r.f"), col("r.ff"),
          col("r.fo"))
      val global = flags.agg(count(lit(1)).as("n_docs"),
        sum(when(col("p1") && col("p2") && col("p3") && col("p4"), 1L)
          .otherwise(0L)).as("n_kept"))
      ex.groupBy("stage", "gate")
        .agg(sum(when(col("f"), 1L).otherwise(0L)).as("n_fail"),
          sum(when(col("ff"), 1L).otherwise(0L)).as("n_first_fail"),
          sum(when(col("fo"), 1L).otherwise(0L)).as("n_only_fail"))
        .crossJoin(global)
        .orderBy("stage")
    }, {
      val scores = TextAnalysis.LangPriority.map(l => s"${stopSql(l)} AS s_$l")
        .mkString(", ")
      val maxS = TextAnalysis.LangPriority.map(l => s"s_$l").mkString(", ")
      val cases = TextAnalysis.LangPriority.map(l =>
        s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
      "WITH t AS (SELECT doc_id, source, text, " +
        "string_split(text, ' ') AS ws, array_to_string(" +
        s"(string_split(${TextAnalysis.NormalizeSql("text")}, ' '))" +
        "[1:10], ' ') AS k FROM documents), " +
        "gm AS (SELECT k, min(doc_id) AS km FROM t GROUP BY k), " +
        s"sc AS (SELECT doc_id, $scores FROM t), " +
        s"pr AS (SELECT doc_id, CASE $cases ELSE 'und' END AS pred " +
        s"FROM (SELECT doc_id, greatest($maxS) AS m, * FROM sc)), " +
        s"fl AS (SELECT t.doc_id, $QualitySql >= 0.7 AS p1, " +
        s"$WordCountSql >= 25 AS p2, " +
        "pr.pred <> 'und' AS p3, t.doc_id = gm.km AS p4 FROM t " +
        "JOIN gm USING (k) JOIN pr USING (doc_id)), " +
        "g AS (SELECT count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_kept FROM fl), " +
        "rows0 AS (" +
        "SELECT 1 AS stage, 'quality' AS gate, NOT p1 AS f, " +
        "NOT p1 AS ff, NOT p1 AND p2 AND p3 AND p4 AS fo FROM fl " +
        "UNION ALL SELECT 2, 'length', NOT p2, p1 AND NOT p2, " +
        "p1 AND NOT p2 AND p3 AND p4 FROM fl " +
        "UNION ALL SELECT 3, 'langid', NOT p3, p1 AND p2 AND NOT p3, " +
        "p1 AND p2 AND NOT p3 AND p4 FROM fl " +
        "UNION ALL SELECT 4, 'dedup', NOT p4, " +
        "p1 AND p2 AND p3 AND NOT p4, " +
        "p1 AND p2 AND p3 AND NOT p4 FROM fl) " +
        "SELECT stage, gate, " +
        "CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_fail, " +
        "CAST(sum(CASE WHEN ff THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_first_fail, " +
        "CAST(sum(CASE WHEN fo THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_only_fail, max(g.n_docs) AS n_docs, " +
        "max(g.n_kept) AS n_kept " +
        "FROM rows0 CROSS JOIN g GROUP BY stage, gate ORDER BY stage"
    })

  /** k-anonymity suppression accounting (governance: can this corpus
    * slice be released keyed by quasi-identifiers?): docs group by
    * the quasi-identifier (lang, source, length-bucket); groups
    * smaller than K would re-identify and are SUPPRESSED; one
    * generalization step (coarsen the length bucket 4×) rescues the
    * suppressed docs whose coarsened group reaches K — the standard
    * generalize-then-suppress ladder, here as pure aggregates. Scale
    * shape: two hash aggregates on the quasi grain + one semi-join
    * back; integers end to end. */
  private val KanonK = 5
  private val pipelineKanon = Q("q_pipeline_kanon",
    (s, d) => {
      val q0 = docs(s, d).select(col("doc_id"), col("source"),
        col("lang"), (col("n_chars").cast("long") / lit(128L))
          .cast("long").as("lb"))
      val g = q0.groupBy("source", "lang", "lb")
        .agg(count(lit(1)).as("cnt"))
      val withG = q0.join(g, Seq("source", "lang", "lb"))
      val supp = withG.where(col("cnt") < KanonK)
        .withColumn("lb2", (col("lb") / lit(4L)).cast("long"))
      val g2 = supp.groupBy("source", "lang", "lb2")
        .agg(count(lit(1)).as("cnt2"))
      val supp2 = supp.join(g2, Seq("source", "lang", "lb2"))
      val perSrcGroups = g.groupBy("source")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("cnt") < KanonK, 1L).otherwise(0L))
            .as("n_small_groups"))
      val perSrcDocs = withG.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cnt") < KanonK, 1L).otherwise(0L))
            .as("n_suppressed"))
      val perSrcResc = supp2.groupBy("source")
        .agg(sum(when(col("cnt2") >= KanonK, 1L).otherwise(0L))
            .as("n_rescued"),
          sum(when(col("cnt2") < KanonK, col("doc_id")).otherwise(0L))
            .as("lost_ids"))
      perSrcGroups.join(perSrcDocs, "source")
        .join(perSrcResc, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_groups"),
          col("n_small_groups"), col("n_suppressed"),
          coalesce(col("n_rescued"), lit(0L)).as("n_rescued"),
          coalesce(col("lost_ids"), lit(0L)).as("lost_ids"))
        .orderBy("source")
    },
    "WITH q0 AS (SELECT doc_id, source, lang, " +
      "n_chars // 128 AS lb FROM documents), " +
      "g AS (SELECT source, lang, lb, count(*) AS cnt FROM q0 " +
      "GROUP BY 1, 2, 3), " +
      "wg AS (SELECT q0.*, g.cnt FROM q0 JOIN g " +
      "USING (source, lang, lb)), " +
      s"supp AS (SELECT *, lb // 4 AS lb2 FROM wg WHERE cnt < $KanonK), " +
      "g2 AS (SELECT source, lang, lb2, count(*) AS cnt2 FROM supp " +
      "GROUP BY 1, 2, 3), " +
      "s2 AS (SELECT supp.*, g2.cnt2 FROM supp JOIN g2 " +
      "USING (source, lang, lb2)), " +
      "pg AS (SELECT source, count(*) AS n_groups, " +
      s"CAST(sum(CASE WHEN cnt < $KanonK THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_small_groups FROM g GROUP BY source), " +
      "pd AS (SELECT source, count(*) AS n_docs, " +
      s"CAST(sum(CASE WHEN cnt < $KanonK THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_suppressed FROM wg GROUP BY source), " +
      "pr AS (SELECT source, " +
      s"CAST(sum(CASE WHEN cnt2 >= $KanonK THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_rescued, " +
      s"CAST(sum(CASE WHEN cnt2 < $KanonK THEN doc_id ELSE 0 END) " +
      "AS BIGINT) AS lost_ids FROM s2 GROUP BY source) " +
      "SELECT pg.source AS source, pd.n_docs, pg.n_groups, " +
      "pg.n_small_groups, pd.n_suppressed, " +
      "CAST(coalesce(pr.n_rescued, 0) AS BIGINT) AS n_rescued, " +
      "CAST(coalesce(pr.lost_ids, 0) AS BIGINT) AS lost_ids " +
      "FROM pg JOIN pd USING (source) LEFT JOIN pr USING (source) " +
      "ORDER BY source")

  /** JSONL ingest — the LLM-corpus interchange format: documents
    * rendered as JSON lines (with ~1% planted truncation-corrupted
    * lines), parsed back field-by-field with corrupt lines surfacing
    * as NULLs instead of task failures (Spark `get_json_object`
    * returns null on malformed input; the oracle guards with
    * `json_valid`). Grouping is on the EXTRACTED source — a parser
    * that mis-reads any field (id, source, lang, text) moves rows
    * between groups or breaks the digests. Map-only over the corpus;
    * one aggregate. Fixture text is [a-z ]-only, so the in-plan JSON
    * builder needs no escaping (asserted upstream of the fixtures). */
  private val sourceJsonl = Q("q_source_jsonl",
    (s, d) => {
      val line = concat(lit("{\"id\": "), col("doc_id"),
        lit(", \"src\": \""), col("source"),
        lit("\", \"lang\": \""), col("lang"),
        lit("\", \"text\": \""), col("text"), lit("\"}"))
      val withLine = docs(s, d).select(
        when(pmod(col("doc_id"), lit(97L)) === 0,
          substring(line, 1, 10)).otherwise(line).as("line"))
      val parsed = withLine.select(
        get_json_object(col("line"), "$.id").cast("long").as("jid"),
        get_json_object(col("line"), "$.src").as("jsrc"),
        get_json_object(col("line"), "$.lang").as("jlang"),
        get_json_object(col("line"), "$.text").as("jtext"))
      val bad = parsed.agg(
        sum(when(col("jsrc").isNull, 1L).otherwise(0L)).as("n_corrupt"))
      parsed.where(col("jsrc").isNotNull)
        .groupBy(col("jsrc").as("source"))
        .agg(count(lit(1)).as("n_ok"),
          sum(col("jid")).as("id_sum"),
          countDistinct(col("jlang")).as("n_langs"),
          sum(length(col("jtext")).cast("long")).as("chars"),
          sum(TextAnalysis.tokenHash(col("jtext")) % lit(DigestMod))
            .as("text_digest"))
        .crossJoin(bad)
        .orderBy("source")
    },
    "WITH l AS (SELECT CASE WHEN doc_id % 97 = 0 " +
      "THEN substr(line, 1, 10) ELSE line END AS line FROM (" +
      "SELECT doc_id, '{\"id\": ' || doc_id || ', \"src\": \"' || " +
      "source || '\", \"lang\": \"' || lang || '\", \"text\": \"' || " +
      "text || '\"}' AS line FROM documents)), " +
      "p AS (SELECT CASE WHEN json_valid(line) THEN " +
      "CAST(json_extract(line, '$.id') AS BIGINT) END AS jid, " +
      "CASE WHEN json_valid(line) THEN " +
      "json_extract_string(line, '$.src') END AS jsrc, " +
      "CASE WHEN json_valid(line) THEN " +
      "json_extract_string(line, '$.lang') END AS jlang, " +
      "CASE WHEN json_valid(line) THEN " +
      "json_extract_string(line, '$.text') END AS jtext FROM l), " +
      "bad AS (SELECT CAST(sum(CASE WHEN jsrc IS NULL THEN 1 ELSE 0 " +
      "END) AS BIGINT) AS n_corrupt FROM p) " +
      "SELECT jsrc AS source, count(*) AS n_ok, " +
      "CAST(sum(jid) AS BIGINT) AS id_sum, " +
      "count(DISTINCT jlang) AS n_langs, " +
      "CAST(sum(length(jtext)) AS BIGINT) AS chars, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("jtext")} % $DigestMod) " +
      "AS BIGINT) AS text_digest, bad.n_corrupt AS n_corrupt " +
      "FROM p CROSS JOIN bad WHERE jsrc IS NOT NULL " +
      "GROUP BY jsrc, bad.n_corrupt ORDER BY source")

  /** Deterministic differentially-private-STYLE histogram release
    * (governance, completing the kanon/forget family): per-(source,
    * lang) doc counts with Laplace(1/ε) noise drawn by inverse CDF
    * from the deterministic md5 hash draw — the release SHAPE of a
    * DP count query (sensitivity-1 histogram, ε = 1), replayable
    * cross-engine because the "randomness" is the portable hash. The
    * ln is guard-band quantized (floor(x·2²⁰ + 0.5), the MiFx
    * discipline) so noisy sums are exact integers. NOT a privacy
    * mechanism (deterministic noise is not DP!) — the oracle-testable
    * twin of one: swap the hash draw for a CSPRNG and the release
    * math, sensitivity accounting, and plan shape stay. */
  private val DpFx = 1048576.0 // 2^20
  private val pipelineDpRelease = Q("q_pipeline_dprelease",
    (s, d) => {
      val cells = docs(s, d).groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
      val u = Sampling.hashFraction(
        concat(col("source"), lit("#dp#"), col("lang")))
      val u2 = greatest(lit(1.0) - lit(2.0) * abs(u - lit(0.5)),
        lit(1e-18))
      val x = (when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0))) *
        (-log(u2))
      val withN = cells
        .withColumn("xfp", floor(x * lit(DpFx) + lit(0.5)).cast("long"))
      withN.groupBy("source")
        .agg(count(lit(1)).as("n_cells"),
          round((sum(col("c")).cast("double") * lit(DpFx) +
            sum(col("xfp")).cast("double")) / lit(DpFx), 5)
            .as("noisy_total"),
          round(sum(abs(col("xfp"))).cast("double") / lit(DpFx), 5)
            .as("noise_mass"))
        .orderBy("source")
    }, {
      val u = Sampling.HashFractionSql("source || '#dp#' || lang")
      "WITH cells AS (SELECT source, lang, count(*) AS c " +
        "FROM documents GROUP BY 1, 2), " +
        s"n AS (SELECT source, c, CAST(floor((CASE WHEN $u >= 0.5 " +
        "THEN 1.0 ELSE -1.0 END) * " +
        s"(-ln(greatest(1.0 - 2.0 * abs($u - 0.5), 1e-18))) " +
        s"* $DpFx + 0.5) AS BIGINT) AS xfp FROM cells) " +
        "SELECT source, count(*) AS n_cells, " +
        s"round((CAST(sum(c) AS DOUBLE) * $DpFx + " +
        s"CAST(sum(xfp) AS DOUBLE)) / $DpFx, 5) AS noisy_total, " +
        s"round(CAST(sum(abs(xfp)) AS DOUBLE) / $DpFx, 5) " +
        "AS noise_mass " +
        "FROM n GROUP BY source ORDER BY source"
    })

  /** ZIP repo-export ingestion round-trip: docs → per-(source, shard)
    * ZIP archives (real local headers + central directory + EOCD,
    * member-per-doc, even ids through the JDK's real Deflater, odd
    * ids stored — [[Multimodal.zipBuildFiles]]) → central-directory
    * walk + inflate + CRC-32 verify ([[graft.ops.Archive.parseZip]])
    * → per-source aggregates. The member-text checksum pins the full
    * decompress path cross-engine (a Deflater/Inflater mismatch or a
    * data-offset slip breaks the hash); n_ok pins the CRC check; the
    * byte sum pins declared-vs-actual sizes. Bytes never shuffle —
    * archives are built after the group agg and flattened
    * partition-locally. */
  private val sourceZip = Q("q_source_zip",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(5)).as("shard"), col("text"))
      val files = Multimodal.zipBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      Multimodal.archiveMembersColumn(files, "media", "zip")
        .groupBy("source")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("shard")).as("n_archives"),
          sum(col("n_member_bytes")).as("sum_bytes"),
          sum(when(col("member_ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("member_deflated"), 1L).otherwise(0L))
            .as("n_deflated"),
          sum(length(col("member_name")).cast("long")).as("sum_name_len"),
          sum(TextAnalysis.tokenHash(col("member_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "SELECT source, count(*) AS n_members, " +
      "count(DISTINCT doc_id % 5) AS n_archives, " +
      "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes, " +
      "count(*) AS n_ok, " +
      "CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_deflated, " +
      "CAST(sum(5 + length(CAST(doc_id AS VARCHAR))) AS BIGINT) " +
      "AS sum_name_len, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM documents GROUP BY source ORDER BY source")

  /** POSIX-ustar .tar.gz ingestion round-trip: docs → per-(source,
    * shard) tarballs (512-byte headers with real octal checksums,
    * planted per-member mtimes, gzip framing —
    * [[Multimodal.tarBuildFiles]]) → gunzip + header walk + checksum
    * verify ([[graft.ops.Archive.parseTar]]) → per-source aggregates.
    * The mtime sum pins the octal field parse; the text checksum pins
    * 512-block padding arithmetic (an off-by-one block step shears
    * every subsequent member). Same never-shuffle-bytes shape as
    * [[sourceZip]]. */
  private val sourceTar = Q("q_source_tar",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(4)).as("shard"), col("text"))
      val files = Multimodal.tarBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      Multimodal.archiveMembersColumn(files, "media", "tar")
        .groupBy("source")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("shard")).as("n_archives"),
          sum(col("n_member_bytes")).as("sum_bytes"),
          sum(when(col("member_ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("member_mtime")).as("sum_mtime"),
          sum(TextAnalysis.tokenHash(col("member_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "SELECT source, count(*) AS n_members, " +
      "count(DISTINCT doc_id % 4) AS n_archives, " +
      "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes, " +
      "count(*) AS n_ok, " +
      "CAST(sum(1700000000 + doc_id % 1000) AS BIGINT) AS sum_mtime, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM documents GROUP BY source ORDER BY source")

  /** WARC REVISIT dedup round-trip (r14 — Common Crawl's crawl-time
    * storage dedup: a page whose payload digest was already captured
    * is stored as a REVISIT record, digest + reference, no payload):
    * every doc writes a digest-carrying response; every (4k+3)rd doc
    * ALSO recurs as a revisit of its own capture
    * ([[graft.ops.Warc.buildFileRevisit]]); the reader resolves
    * revisits back to text through one digest join
    * ([[graft.ops.Multimodal.warcResolveRevisits]]). The checksum
    * covers responses AND resolved revisits, so a resolution that
    * joins the wrong capture — or fails to resolve — shears it;
    * bytes_saved is the payload the revisit layout did not re-store,
    * and n_resolved == n_revisits pins zero dangling references.
    * Record bytes never shuffle; the digest join moves only
    * (digest, text) pairs at the duplicate grain. */
  private val sourceWarcRevisit = Q("q_source_warc_revisit",
    (s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(6)).as("shard"), col("text"))
      val primary = d0.select(col("doc_id"), col("source"), col("shard"),
        concat(lit("https://crawl.example.com/"), col("source"),
          lit("/"), col("doc_id").cast("string")).as("uri"),
        col("text"),
        lit(null).cast("string").as("rref"))
      val dups = d0.where(pmod(col("doc_id"), lit(4)) === 3)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
          col("shard"),
          concat(lit("https://crawl.example.com/"), col("source"),
            lit("/"), col("doc_id").cast("string"), lit("?v2")).as("uri"),
          col("text"),
          col("doc_id").cast("string").as("rref"))
      val files = Multimodal.warcBuildFilesRevisit(
        primary.unionByName(dups), Seq("source", "shard"),
        "uri", "doc_id", "text", "rref")
      val recs = Multimodal.warcRecordsColumn(files, "media")
        .where(col("warc_type") =!= "warcinfo")
      Multimodal.warcResolveRevisits(recs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("warc_type") === "response", 1L).otherwise(0L))
            .as("n_responses"),
          sum(when(col("warc_type") === "revisit", 1L).otherwise(0L))
            .as("n_revisits"),
          sum(when(col("warc_type") === "revisit" &&
            col("body_text").isNotNull, 1L).otherwise(0L))
            .as("n_resolved"),
          sum(when(col("warc_type") === "revisit", col("n_body_bytes"))
            .otherwise(0L)).as("bytes_saved"),
          sum(TextAnalysis.tokenHash(col("body_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "SELECT source, " +
      "CAST(count(*) + sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_records, " +
      "count(*) AS n_responses, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_revisits, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_resolved, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 3 THEN strlen(text) ELSE 0 END) " +
      "AS BIGINT) AS bytes_saved, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod " +
      s"+ CASE WHEN doc_id % 4 = 3 THEN " +
      s"${TextAnalysis.TokenHashSql("text")} % $DigestMod ELSE 0 END) " +
      "AS BIGINT) AS checksum " +
      "FROM documents GROUP BY source ORDER BY source")

  /** XML dump ingestion round-trip (the Wikipedia/StackExchange
    * container — the one major public corpus format the source family
    * lacked after WARC/ZIP/tar/JSONL): docs → per-(source, shard)
    * MediaWiki-style dumps with siteinfo header, per-page
    * title/ns/id/redirect and revision id/timestamp/contributor/text
    * ([[graft.ops.Xml.buildDump]], every title carrying a raw '&' so
    * entity escaping is exercised on every page) → streaming StAX
    * record walk ([[graft.ops.Xml.parseDump]], DTD/external entities
    * disabled) → per-source aggregates. The text checksum pins the
    * escape/unescape round-trip; sum_ts pins the timestamp field
    * through the revision scope (a flat-walk parser that confuses
    * page id with revision id breaks sum_rev); the oracle recomputes
    * every field from the build formulas — the q_source_zip
    * discipline. Dump bytes never shuffle (built after the group agg,
    * parsed partition-locally). */
  private val sourceXml = Q("q_source_xml",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(6)).as("shard"), col("text"))
      val files = Multimodal.xmlBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      Multimodal.xmlPagesColumn(files, "media")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("shard")).as("n_dumps"),
          sum(when(col("page_ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("page_ns").cast("long")).as("sum_ns"),
          sum(col("rev_id")).as("sum_rev"),
          sum(substring(col("rev_ts"), 9, 2).cast("long") +
            substring(col("rev_ts"), 12, 2).cast("long")).as("sum_ts"),
          sum(when(col("is_redirect"), 1L).otherwise(0L)).as("n_redirects"),
          sum(length(col("page_title")).cast("long")).as("sum_title_len"),
          sum(length(col("contributor")).cast("long")).as("sum_user_len"),
          sum(TextAnalysis.tokenHash(col("page_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "SELECT source, count(*) AS n_pages, " +
      "count(DISTINCT doc_id % 6) AS n_dumps, " +
      "count(*) AS n_ok, " +
      "CAST(sum(CASE doc_id % 3 WHEN 2 THEN 10 ELSE doc_id % 3 END) " +
      "AS BIGINT) AS sum_ns, " +
      "CAST(sum(doc_id * 7 + 3) AS BIGINT) AS sum_rev, " +
      "CAST(sum(doc_id % 28 + 1 + doc_id % 24) AS BIGINT) AS sum_ts, " +
      "CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_redirects, " +
      "CAST(sum(2 + length(CAST(doc_id AS VARCHAR))) AS BIGINT) " +
      "AS sum_title_len, " +
      "CAST(sum(5 + length(CAST(doc_id % 50 AS VARCHAR))) AS BIGINT) " +
      "AS sum_user_len, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM documents GROUP BY source ORDER BY source")

  /** PDF text-extraction round-trip (papers/reports/books — the
    * biggest unstructured-corpus format a pipeline ingests after
    * HTML): docs → one real PDF each ([[graft.ops.Pdf.build]]:
    * correct xref byte offsets, FlateDecode and raw content streams,
    * direct and indirect /Length, Tj and TJ-array show operators,
    * escaped literal strings; multi-page docs with doc_id % 4 = 0
    * written as TRUE incremental updates — second xref section,
    * /Prev chain, pages root rewritten newest-wins; docs with
    * doc_id % 7 = 0 in the PDF 1.5 form — cross-reference STREAM
    * under the PNG Up predictor plus an object stream holding every
    * dict object) → full reader walk ([[graft.ops.Pdf.parse]]:
    * startxref → xref chain of either section kind → page tree →
    * content decode → text-operator scan) → per-source aggregates.
    * The checksum pins extracted text exactly (page 1 is the doc
    * text verbatim; extra pages rebuilt from the
    * [[graft.ops.Multimodal.pdfBuildColumn]] formulas); sum_size
    * pins object numbering through the trailer /Size in BOTH forms;
    * n_updated pins the /Prev walk; n_xstream pins 1.5 detection —
    * a reader that can't decode the predictor or the object stream
    * loses every seventh document. Bytes never shuffle. */
  private val sourcePdf = Q("q_source_pdf",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"), col("text"),
        pmod(col("doc_id"), lit(3)).cast("int").as("extra"),
        (pmod(col("doc_id"), lit(2)) === 0).as("flate"),
        (pmod(col("doc_id"), lit(5)) === 0).as("ind"),
        (pmod(col("doc_id"), lit(4)) === 0).as("incr"),
        (pmod(col("doc_id"), lit(7)) === 0).as("xs"))
      val built = Multimodal.pdfBuildColumn(src, "doc_id", "text",
        "extra", "flate", "ind", "incr", "xs")
      Multimodal.pdfPagesColumn(built, "media")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_pages"),
          sum(when(col("pdf_ok") && col("page_idx") === 0, 1L)
            .otherwise(0L)).as("n_ok"),
          sum(when(col("page_flate"), 1L).otherwise(0L)).as("n_flate"),
          sum(when(col("page_idx") === 0, col("pdf_size").cast("long"))
            .otherwise(0L)).as("sum_size"),
          sum(when(col("pdf_updated") && col("page_idx") === 0, 1L)
            .otherwise(0L)).as("n_updated"),
          sum(when(col("pdf_xstream") && col("page_idx") === 0, 1L)
            .otherwise(0L)).as("n_xstream"),
          sum(TextAnalysis.tokenHash(col("page_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    {
      val e2 = "'Doc ' || CAST(doc_id AS VARCHAR) || ' page 2' || " +
        "chr(10) || 'k(v)=\\' || CAST(doc_id AS VARCHAR)"
      val e3 = "'Doc ' || CAST(doc_id AS VARCHAR) || ' page 3' || " +
        "chr(10) || 'k(v)=\\' || CAST(doc_id AS VARCHAR)"
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(1 + doc_id % 3) AS BIGINT) AS n_pages, " +
        "count(*) AS n_ok, " +
        "CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 " +
        "ELSE 0 END) AS BIGINT) AS n_flate, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE 4 END " +
        "+ (1 + doc_id % 3) * " +
        "(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 2 END)) AS BIGINT) " +
        "AS sum_size, " +
        "CAST(sum(CASE WHEN doc_id % 4 = 0 AND doc_id % 3 <> 0 " +
        "AND doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_updated, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_xstream, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod " +
        s"+ CASE WHEN doc_id % 3 >= 1 THEN " +
        s"${TextAnalysis.TokenHashSql(e2)} % $DigestMod ELSE 0 END " +
        s"+ CASE WHEN doc_id % 3 = 2 THEN " +
        s"${TextAnalysis.TokenHashSql(e3)} % $DigestMod ELSE 0 END) " +
        "AS BIGINT) AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** mbox/MIME mail-archive round-trip (mailing-list corpora ship
    * decades of traffic this way): docs → per-(source, shard) mboxrd
    * files ([[graft.ops.Mbox.build]]: RFC 4155 `From ` separators
    * with `>From ` body stuffing — and `=46`-escaped line-initial
    * `From ` under quoted-printable — RFC 5322 folded headers, RFC
    * 2047 split encoded-word subjects that must rejoin without a
    * space, 7bit/QP/base64 transfer encodings, multipart/mixed with
    * a base64 attachment) → separator split + header unfold + MIME
    * walk ([[graft.ops.Mbox.parse]]) → per-source aggregates. The
    * body checksum pins byte-exact transfer decode across all three
    * codings; sum_subject_len pins encoded-word rejoin (one stray
    * space breaks it); sum_att_digest pins attachment base64 decode
    * content, not just length; sum_ts pins header extraction through
    * the unfold. File bytes never shuffle. */
  private val sourceMbox = Q("q_source_mbox",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(6)).as("shard"), col("text"))
      val files = Multimodal.mboxBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      val dt = split(col("msg_date"), " ")
      Multimodal.mboxMessagesColumn(files, "media")
        .groupBy("source")
        .agg(count(lit(1)).as("n_msgs"),
          countDistinct(col("shard")).as("n_files"),
          sum(when(col("msg_ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("cte") === "quoted-printable", 1L).otherwise(0L))
            .as("n_qp"),
          sum(when(col("cte") === "base64", 1L).otherwise(0L)).as("n_b64"),
          sum(when(col("n_parts") === 2, 1L).otherwise(0L))
            .as("n_multipart"),
          sum(col("n_to").cast("long")).as("sum_to"),
          sum(length(col("subject")).cast("long")).as("sum_subject_len"),
          sum(length(col("msg_from")).cast("long")).as("sum_from_len"),
          sum(element_at(dt, 2).cast("long") +
            substring(element_at(dt, 5), 1, 2).cast("long")).as("sum_ts"),
          sum(col("att_bytes").cast("long")).as("sum_att"),
          sum(col("att_digest")).as("sum_att_digest"),
          sum(TextAnalysis.tokenHash(col("body")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    "SELECT source, count(*) AS n_msgs, " +
      "count(DISTINCT doc_id % 6) AS n_files, " +
      "count(*) AS n_ok, " +
      "CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_qp, " +
      "CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_b64, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_multipart, " +
      "CAST(2 * count(*) AS BIGINT) AS sum_to, " +
      "CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 8 END " +
      "+ length(CAST(doc_id AS VARCHAR))) AS BIGINT) " +
      "AS sum_subject_len, " +
      "CAST(sum(16 + length(CAST(doc_id % 50 AS VARCHAR)) " +
      "+ length(CAST(doc_id % 20 AS VARCHAR))) AS BIGINT) " +
      "AS sum_from_len, " +
      "CAST(sum(doc_id % 28 + 1 + doc_id % 24) AS BIGINT) AS sum_ts, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 0 THEN doc_id % 100 + 10 " +
      "ELSE 0 END) AS BIGINT) AS sum_att, " +
      "CAST(sum(CASE WHEN doc_id % 4 = 0 THEN " +
      "(doc_id % 100 + 10) * (doc_id % 100 + 9) / 2 ELSE 0 END) " +
      "AS BIGINT) AS sum_att_digest, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod) " +
      "AS BIGINT) AS checksum " +
      "FROM documents GROUP BY source ORDER BY source")

  /** Mailing-list thread reconstruction (the curation grain for list
    * corpora is the THREAD, not the message): the mbox fixture's
    * reply structure — threads of five, each reply carrying
    * In-Reply-To and the full References chain folded one id per
    * continuation line — parsed back through
    * [[graft.ops.Mbox.parse]], thread root = first References entry
    * (own id at the root), depth = chain length, root id recovered
    * by regex from the parsed header. sum_root pins the EXACT root
    * message-id string through the multi-line unfold: one lost or
    * reordered continuation line and the wrong id parses out. */
  private val sourceMboxThreads = Q("q_source_mbox_threads",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(6)).as("shard"), col("text"))
      val files = Multimodal.mboxBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      Multimodal.mboxMessagesColumn(files, "media")
        .withColumn("root_id",
          regexp_extract(col("thread_root"), "<m(\\d+)@x>", 1)
            .cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_msgs"),
          countDistinct(col("root_id")).as("n_threads"),
          sum(when(col("in_reply_to") =!= "", 1L).otherwise(0L))
            .as("n_replies"),
          sum(col("n_refs").cast("long")).as("sum_depth"),
          sum(col("root_id")).as("sum_root"))
        .orderBy("source")
    },
    "SELECT source, count(*) AS n_msgs, " +
      "count(DISTINCT doc_id - doc_id % 5) AS n_threads, " +
      "CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_replies, " +
      "CAST(sum(doc_id % 5) AS BIGINT) AS sum_depth, " +
      "CAST(sum(doc_id - doc_id % 5) AS BIGINT) AS sum_root " +
      "FROM documents GROUP BY source ORDER BY source")

  /** EPUB ingestion (books — the highest-quality long-form corpus):
    * docs → one real OCF container each ([[graft.ops.Epub.build]]:
    * stored-first mimetype, container.xml, OPF with dc:title +
    * manifest + spine, XHTML chapters with escaped entities; odd ids
    * carry a spine in REVERSE of archive order) → full reader walk
    * ([[graft.ops.Epub.parse]]: CRC-checked zip → container → OPF →
    * spine-ordered [[graft.ops.Html.extractText]]) → per-source
    * aggregates. The book-text checksum concatenates chapters in
    * SPINE order, so a zip-order reader breaks half the corpus; the
    * entity round-trip is pinned in every chapter. Bytes never
    * shuffle. */
  private val sourceEpub = Q("q_source_epub",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      val built = Multimodal.epubBuildColumn(src, "doc_id")
      Multimodal.epubBookColumn(built, "media")
        .groupBy("source")
        .agg(count(lit(1)).as("n_books"),
          sum(when(col("book_ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("n_chapters").cast("long")).as("n_chapters"),
          sum(length(col("book_title")).cast("long"))
            .as("sum_title_len"),
          sum(TextAnalysis.tokenHash(col("book_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    {
      def chSql(i: Int): String =
        s"'Chapter $i of book ' || CAST(doc_id AS VARCHAR) || " +
          s"chr(10) || 'a & b < c #' || CAST(doc_id AS VARCHAR) || ' v$i'"
      def bookSql(n: Int, rev: Boolean): String = {
        val idx = if (rev) n to 1 by -1 else 1 to n
        idx.map(chSql).mkString(" || chr(10) || ")
      }
      val bookText = "CASE CAST(doc_id % 3 AS INT) " +
        (0 until 3).map { m =>
          val n = m + 2
          s"WHEN $m THEN (CASE WHEN doc_id % 2 = 1 " +
            s"THEN ${bookSql(n, rev = true)} " +
            s"ELSE ${bookSql(n, rev = false)} END)"
        }.mkString(" ") + " END"
      "SELECT source, count(*) AS n_books, count(*) AS n_ok, " +
        "CAST(sum(doc_id % 3 + 2) AS BIGINT) AS n_chapters, " +
        "CAST(sum(5 + length(CAST(doc_id AS VARCHAR))) AS BIGINT) " +
        "AS sum_title_len, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql(s"($bookText)")} " +
        s"% $DigestMod) AS BIGINT) AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** Unified-diff round-trip (the commit grain of a code corpus: a
    * repository-history pipeline stores base blobs + patches and
    * must re-materialize files and count churn): per doc, a 12-line
    * fixture file around the doc text → REAL LCS diff against its
    * formula-mutated successor ([[graft.ops.UnifiedDiff.build]]:
    * replace at the head, conditional insert + delete past a 7-line
    * context gap so hunk GROUPING is exercised, not just the edit
    * script) → REAL re-apply with context verification
    * ([[graft.ops.UnifiedDiff.apply]]) → per-source churn stats.
    * n_exact compares the re-materialized file to the target text
    * per row — a misplaced hunk or off-by-one offset fails the count
    * before the checksum looks; n_hunks pins the context-merge rule
    * (the two edit clusters sit 8 context lines apart, past the
    * 2·context=6 merge window). Map-only; patches never shuffle. */
  private val sourcePatch = Q("q_source_patch",
    (s, d) => {
      val id = col("doc_id")
      val ctx = (1 to 7).map(j =>
        concat(lit(s"ctx $j "), pmod(id, lit(5)).cast("string")))
      val oldLines: Seq[org.apache.spark.sql.Column] =
        (concat(lit("fn start "), id.cast("string")) +:
          concat(lit("alpha "), pmod(id, lit(7)).cast("string")) +:
          ctx) ++ Seq(col("text"),
          concat(lit("beta "), pmod(id * 3, lit(11)).cast("string")),
          concat(lit("fn end "), id.cast("string")))
      // concat_ws skips nulls: the conditional lines vanish cleanly
      val newLines: Seq[org.apache.spark.sql.Column] =
        (concat(lit("fn start "), id.cast("string")) +:
          concat(lit("ALPHA "), pmod(id, lit(7)).cast("string"),
            lit(" v2")) +: ctx) ++ Seq(col("text"),
          when(pmod(id, lit(3)) === 0,
            concat(lit("inserted "), pmod(id, lit(13)).cast("string"))),
          when(pmod(id, lit(2)) =!= 0,
            concat(lit("beta "), pmod(id * 3, lit(11)).cast("string"))),
          concat(lit("fn end "), id.cast("string")))
      val src = docs(s, d).select(id, col("source"), col("text"))
        .withColumn("old_t", concat_ws("\n", oldLines: _*))
        .withColumn("new_t", concat_ws("\n", newLines: _*))
      graft.ops.UnifiedDiff.diffApplyColumn(src, "old_t", "new_t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("patched") === col("new_t"), 1L).otherwise(0L))
            .as("n_exact"),
          sum(col("n_hunks").cast("long")).as("n_hunks"),
          sum(col("n_adds").cast("long")).as("n_adds"),
          sum(col("n_dels").cast("long")).as("n_dels"),
          sum(TextAnalysis.tokenHash(col("patched")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    {
      val nl = " || chr(10) || "
      val ctx = (1 to 7).map(j =>
        s"'ctx $j ' || CAST(doc_id % 5 AS VARCHAR)").mkString(nl)
      val ins = "CASE WHEN doc_id % 3 = 0 THEN 'inserted ' || " +
        "CAST(doc_id % 13 AS VARCHAR) || chr(10) ELSE '' END"
      val beta = "CASE WHEN doc_id % 2 <> 0 THEN 'beta ' || " +
        "CAST((doc_id * 3) % 11 AS VARCHAR) || chr(10) ELSE '' END"
      val newText = "'fn start ' || CAST(doc_id AS VARCHAR)" + nl +
        "'ALPHA ' || CAST(doc_id % 7 AS VARCHAR) || ' v2'" + nl +
        ctx + nl + "text || chr(10) || " + ins + " || " + beta +
        " || 'fn end ' || CAST(doc_id AS VARCHAR)"
      "SELECT source, count(*) AS n_docs, count(*) AS n_exact, " +
        "CAST(sum(1 + CASE WHEN doc_id % 2 = 0 OR doc_id % 3 = 0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_hunks, " +
        "CAST(sum(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_adds, " +
        "CAST(sum(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dels, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql(s"($newText)")} " +
        s"% $DigestMod) AS BIGINT) AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** SRT/WebVTT subtitle ingestion (the video-text alignment format
    * captioned-clip corpora ship next to the frames): docs → one
    * real subtitle track each ([[graft.ops.Multimodal
    * .subtitleBuildColumn]] — even ids SubRip with comma timecodes,
    * odd ids WebVTT with NOTE blocks, cue ids, settings, and `<i>`
    * markup) → format-sniffed parse ([[graft.ops.Subtitles.parse]])
    * → per-source aggregates. sum_start/sum_dur pin
    * millisecond-exact timecode decode in BOTH separators; the text
    * checksum is format-invariant because the parser must strip VTT
    * inline markup — one surviving tag breaks the hash. Bytes never
    * shuffle. */
  private val sourceSubtitles = Q("q_source_subtitles",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      val built = Multimodal.subtitleBuildColumn(src, "doc_id")
      Multimodal.subtitleCuesColumn(built, "media")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_cues"),
          sum(when(col("sub_vtt"), 1L).otherwise(0L)).as("n_vtt"),
          sum(col("start_ms")).as("sum_start"),
          sum(col("end_ms") - col("start_ms")).as("sum_dur"),
          sum(TextAnalysis.tokenHash(col("cue_text")) % lit(DigestMod))
            .as("checksum"))
        .orderBy("source")
    },
    {
      def terms(expr: Int => String): String =
        (0 until 5).map { i =>
          val guard = if (i < 2) "" else s"CASE WHEN doc_id % 4 >= ${i - 1} THEN "
          val close = if (i < 2) "" else " ELSE 0 END"
          s"$guard${expr(i)}$close"
        }.mkString(" + ")
      val startSum = terms(i => s"((doc_id * 97) % 100000 + ${i * 4000})")
      val durSum = terms(i => s"(1500 + (doc_id + $i) % 2000)")
      val ckSum = terms { i =>
        val txt = s"'Cue ' || CAST(doc_id AS VARCHAR) || ' n ${i + 1}' " +
          s"|| chr(10) || 'w ' || CAST((doc_id + $i) % 7 AS VARCHAR)"
        s"(${TextAnalysis.TokenHashSql(txt)} % $DigestMod)"
      }
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(doc_id % 4 + 2) AS BIGINT) AS n_cues, " +
        "CAST(sum(CASE WHEN doc_id % 2 = 1 THEN doc_id % 4 + 2 " +
        "ELSE 0 END) AS BIGINT) AS n_vtt, " +
        s"CAST(sum($startSum) AS BIGINT) AS sum_start, " +
        s"CAST(sum($durSum) AS BIGINT) AS sum_dur, " +
        s"CAST(sum($ckSum) AS BIGINT) AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** Sniff → route → extract (the full mixed-corpus ingest story:
    * 20-format blobs, each routed by MAGIC BYTES to its format's
    * real extractor — [[graft.ops.Multimodal.routeExtractColumn]]).
    * The ten text-bearing formats (raw text, gzip, zip and tar
    * members, XML dump pages, PDF pages, mbox bodies, VTT/SRT cues,
    * EPUB chapters) must each recover the EXACT embedded doc text —
    * n_exact compares extracted == original per row, so one format's
    * decode drifting by a byte (a lost newline, an undecoded entity,
    * an unstripped tag, a wrong spine walk) shows up as a count
    * deficit before the checksum even looks; the ten media/binary
    * formats must route to null. Per-row switch, bytes never
    * shuffle. */
  private val pipelineExtract = Q("q_pipeline_extract",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(20)).cast("int").as("sel"), col("text"))
      val built = Multimodal.sniffBuildColumn(
        Multimodal.spreadParams(src, "doc_id"), "sel", "text")
      Multimodal.routeExtractColumn(
          Multimodal.sniffColumn(built, "media"), "fmt", "media")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("extracted").isNotNull, 1L).otherwise(0L))
            .as("n_extracted"),
          sum(when(col("extracted") === col("text"), 1L).otherwise(0L))
            .as("n_exact"),
          sum(when(col("extracted").isNotNull,
            TextAnalysis.tokenHash(col("extracted")) % lit(DigestMod))
            .otherwise(0L)).as("checksum"))
        .orderBy("source")
    },
    {
      val sels = "(9, 10, 11, 12, 14, 15, 16, 17, 18, 19)"
      "SELECT source, count(*) AS n_docs, " +
        s"CAST(sum(CASE WHEN doc_id % 20 IN $sels THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_extracted, " +
        s"CAST(sum(CASE WHEN doc_id % 20 IN $sels THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_exact, " +
        s"CAST(sum(CASE WHEN doc_id % 20 IN $sels THEN " +
        s"${TextAnalysis.TokenHashSql("text")} % $DigestMod " +
        "ELSE 0 END) AS BIGINT) AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** robots.txt crawl compliance (RFC 9309) — the stage upstream of
    * every web corpus: per-host robots files (REAL text, parsed by
    * [[graft.ops.Robots.parse]] with a per-partition memo) × the URL
    * table → longest-match Allow/Disallow decisions with `*`
    * wildcards, the `$` end anchor, specific-agent group precedence
    * over `*`, and Crawl-delay extraction. The oracle is a
    * hand-derived truth table over the (host-rule, path) grid — an
    * INDEPENDENT application of the RFC's precedence rules, so a
    * matcher that gets tie-breaking, anchor semantics, or group
    * selection wrong breaks the hash (the doc-id sum pins per-ROW
    * decisions). Fixture axes: pattern-length precedence (Allow /a$
    * vs Disallow /a), a wildcard disallow on the /tmp subtree, and a
    * specific-agent group shadowing the star group entirely. */
  private val sourceRobots = Q("q_source_robots",
    (s, d) => {
      val h = pmod(col("doc_id"), lit(8)).cast("int")
      val robots = concat(
        lit("# fixture\nUser-agent: *\nDisallow: /private\n" +
          "Allow: /private/ok\n"),
        when(pmod(col("h"), lit(3)) === 0, "Disallow: /tmp/*\n")
          .otherwise(""),
        when(pmod(col("h"), lit(2)) === 0, "Allow: /a$\nDisallow: /a\n")
          .otherwise(""),
        concat(lit("Crawl-delay: "), col("h"), lit("\n")),
        when(pmod(col("h"), lit(4)) === 0,
          "\nUser-agent: graftbot\nDisallow: /b\n").otherwise(""))
      val src = docs(s, d)
        .select(col("doc_id"), col("source"), h.as("h"),
          pmod(col("doc_id") * 3, lit(5)).cast("int").as("pidx"))
        .withColumn("path", element_at(array(lit("/a"), lit("/private/x"),
          lit("/private/ok/y"), lit("/tmp/z"), lit("/b")),
          col("pidx") + 1))
        .withColumn("robots", robots)
      graft.ops.Robots.decisionColumn(src, "robots", "path", "graftbot")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("allowed"), 1L).otherwise(0L)).as("n_blocked"),
          sum(col("crawl_delay").cast("long")).as("sum_delay"),
          sum(when(col("allowed"), col("doc_id")).otherwise(0L))
            .as("sum_doc_allowed"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 8 AS INT) AS h, " +
      "CAST((doc_id * 3) % 5 AS INT) AS pidx FROM documents), " +
      // the RFC truth table, derived by hand from the planted rules:
      // specific graftbot group (h%4=0) shadows *: only /b blocked;
      // otherwise /private/x blocked (longest match Disallow
      // /private), /private/ok/y allowed (Allow len 11 > 8),
      // /tmp/z blocked iff the wildcard rule exists (h%3=0),
      // /a allowed always (Allow /a$ len 3 beats Disallow /a len 2
      // when present; no match otherwise), /b allowed under *
      "q AS (SELECT doc_id, source, " +
      "CASE WHEN h % 4 = 0 THEN pidx <> 4 " +
      "WHEN pidx = 1 THEN FALSE " +
      "WHEN pidx = 3 THEN h % 3 <> 0 " +
      "ELSE TRUE END AS allowed, " +
      "CASE WHEN h % 4 = 0 THEN 0 ELSE h END AS delay FROM p) " +
      "SELECT source, count(*) AS n, " +
      "CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_allowed, " +
      "CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) " +
      "AS n_blocked, " +
      "CAST(sum(delay) AS BIGINT) AS sum_delay, " +
      "CAST(sum(CASE WHEN allowed THEN doc_id ELSE 0 END) AS BIGINT) " +
      "AS sum_doc_allowed " +
      "FROM q GROUP BY source ORDER BY source")

  /** The COMPLIANCE FUNNEL a web/code corpus actually runs, composed
    * from this round's verified stages in pipeline order: robots.txt
    * gate ([[graft.ops.Robots]] — RFC 9309 longest-match per host) →
    * license gate ([[graft.ops.License]] — only permissive labels
    * survive; copyleft, conflicts, unlicensed and notice-only drop)
    * → takedown gate (broadcast exact-path list). Each stage's block
    * count is measured AT ITS FUNNEL POSITION (a doc robots already
    * blocked doesn't recount under license), and the kept-doc digest
    * pins the final set doc-for-doc. The oracle recomposes all three
    * stages independently — the robots truth table, the
    * pattern-count license replay, the takedown predicate — so a
    * drift in any stage OR in the funnel order breaks the hash. */
  private val pipelineCompliance = Q("q_pipeline_compliance",
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
      val robotsTxt = concat(
        lit("# fixture\nUser-agent: *\nDisallow: /private\n" +
          "Allow: /private/ok\n"),
        when(pmod(col("h"), lit(3)) === 0, "Disallow: /tmp/*\n")
          .otherwise(""),
        when(pmod(col("h"), lit(2)) === 0, "Allow: /a$\nDisallow: /a\n")
          .otherwise(""),
        when(pmod(col("h"), lit(4)) === 0,
          "\nUser-agent: graftbot\nDisallow: /b\n").otherwise(""))
      val src = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(8)).cast("int").as("h"),
          pmod(col("doc_id") * 3, lit(5)).cast("int").as("pidx"),
          concat(hdr, lit("\n"), col("text")).as("t"))
        .withColumn("path", element_at(array(lit("/a"), lit("/private/x"),
          lit("/private/ok/y"), lit("/tmp/z"), lit("/b")),
          col("pidx") + 1))
        .withColumn("robots", robotsTxt)
      val gated = graft.ops.Robots
        .decisionColumn(src, "robots", "path", "graftbot")
        .select(col("doc_id"), col("source"), col("h"), col("pidx"),
          col("allowed"),
          graft.ops.License.label(graft.ops.PlanHints.computeOnce(
            graft.ops.License.matchCounts(col("t")))).as("license"))
      val permissive = Seq("mit", "apache-2.0", "bsd-3-clause", "bsd",
        "cc-by")
      import s.implicits._
      val takedown = Seq((3, 0), (5, 2)).toDF("td_h", "td_p")
      val flags = gated.join(broadcast(takedown),
          col("h") === col("td_h") && col("pidx") === col("td_p"), "left")
        .select(col("doc_id"), col("source"), col("allowed"),
          col("license").isin(permissive.map(lit): _*).as("lic_ok"),
          col("td_h").isNotNull.as("td"))
      flags.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(!col("allowed"), 1L).otherwise(0L))
            .as("n_robots_blocked"),
          sum(when(col("allowed") && !col("lic_ok"), 1L).otherwise(0L))
            .as("n_license_blocked"),
          sum(when(col("allowed") && col("lic_ok") && col("td"), 1L)
            .otherwise(0L)).as("n_takedown_blocked"),
          sum(when(col("allowed") && col("lic_ok") && !col("td"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("allowed") && col("lic_ok") && !col("td"),
            pmod(col("doc_id") * 131L + 7L, lit(CleanSumMod)))
            .otherwise(0L)).as("kept_digest"))
        .orderBy("source")
    }, {
      val cdefs = graft.ops.LicenseFns.Patterns.zipWithIndex.map {
        case (p, i) =>
          s"(length(t) - length(replace(t, '$p', ''))) // ${p.length} " +
            s"AS c$i"
      }.mkString(", ")
      val spdxCnt = (0 to 3).map(i =>
        s"CASE WHEN c$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      "WITH h AS (SELECT doc_id, source, " +
        "CAST(doc_id % 8 AS INT) AS hh, " +
        "CAST((doc_id * 3) % 5 AS INT) AS pidx, " +
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
        "chr(10) || text AS t FROM documents), " +
        s"pc AS (SELECT doc_id, source, hh, pidx, $cdefs FROM h), " +
        "lab AS (SELECT doc_id, source, hh, pidx, " +
        s"CASE WHEN ($spdxCnt) >= 2 THEN 'conflict' " +
        "WHEN c0 > 0 THEN 'mit' WHEN c1 > 0 THEN 'apache-2.0' " +
        "WHEN c2 > 0 THEN 'gpl-3.0-or-later' " +
        "WHEN c3 > 0 THEN 'bsd-3-clause' " +
        "WHEN c4 > 0 THEN 'apache-2.0' WHEN c5 > 0 THEN 'mit' " +
        "WHEN c6 > 0 THEN 'gpl' WHEN c7 > 0 THEN 'bsd' " +
        "WHEN c8 > 0 THEN 'cc-by' " +
        "WHEN c9 > 0 OR c10 > 0 THEN 'copyright-only' " +
        "ELSE 'none' END AS license FROM pc), " +
        "fl AS (SELECT doc_id, source, " +
        // the q_source_robots truth table, specific group first
        "CASE WHEN hh % 4 = 0 THEN pidx <> 4 " +
        "WHEN pidx = 1 THEN FALSE " +
        "WHEN pidx = 3 THEN hh % 3 <> 0 " +
        "ELSE TRUE END AS allowed, " +
        "license IN ('mit', 'apache-2.0', 'bsd-3-clause', 'bsd', " +
        "'cc-by') AS lic_ok, " +
        "(hh = 3 AND pidx = 0) OR (hh = 5 AND pidx = 2) AS td " +
        "FROM lab) " +
        "SELECT source, count(*) AS n, " +
        "CAST(sum(CASE WHEN NOT allowed THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_robots_blocked, " +
        "CAST(sum(CASE WHEN allowed AND NOT lic_ok THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_license_blocked, " +
        "CAST(sum(CASE WHEN allowed AND lic_ok AND td THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS n_takedown_blocked, " +
        "CAST(sum(CASE WHEN allowed AND lic_ok AND NOT td THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN allowed AND lic_ok AND NOT td THEN " +
        s"(doc_id * 131 + 7) % $CleanSumMod ELSE 0 END) AS BIGINT) " +
        "AS kept_digest " +
        "FROM fl GROUP BY source ORDER BY source"
    })

  /** Crawl-frontier construction end-to-end — the discovery-side
    * composition a real crawl runs BEFORE [[pipelineIngest]] fetches
    * anything: per-(source, shard) sitemaps.org `<urlset>` files
    * (the repo's own writer, entity-escaped '&' on every id%4==0
    * query string) → streaming StAX entry walk → URL
    * canonicalization → distinct-canonical frontier dedup (each URL
    * listed twice in messy spellings) → per-host RFC 9309 robots
    * gate on the canonical path. The host index recovers from the
    * PARSED host string (regexp), robots text derives per host, and
    * the truth table collapses to doc_id % 5 = 4 blocked (the
    * host/path congruence); lastmod/changefreq/priority pin the
    * sitemap field walk, the allowed-only checksum pins
    * canonicalization through the whole chain. Sitemap bytes never
    * shuffle; per-distinct-robots parse memo. */
  private val pipelineFrontier = Q("q_pipeline_frontier",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(4)).as("shard"), col("text"))
      val files = Multimodal.sitemapBuildFiles(src, Seq("source", "shard"),
        "doc_id", "text")
      val entries = Multimodal.sitemapEntriesColumn(files, "media")
      val canon = Url.canonicalColumn(entries, "loc")
      val split = Url.splitColumn(canon, "canonical_url")
      val hostIdx = regexp_extract(col("url_host"),
        "example([0-9]+)\\.com", 1).cast("long")
      val withRobots = split.withColumn("robots_txt",
        concat(lit("User-agent: *\nDisallow: /a/c"),
          pmod(hostIdx * 2 + 1, lit(5)), lit("/")))
      val gated = Robots.decisionColumn(withRobots, "robots_txt",
        "url_path", "graftbot")
      gated.groupBy("source")
        .agg(count(lit(1)).as("n_listed"),
          countDistinct(col("shard")).as("n_sitemaps"),
          countDistinct(col("canonical_url")).as("n_frontier"),
          countDistinct(when(col("allowed"), col("canonical_url")))
            .as("n_allowed"),
          countDistinct(when(!col("allowed"), col("canonical_url")))
            .as("n_blocked"),
          sum(substring(col("lastmod"), 9, 2).cast("long")).as("sum_day"),
          sum(col("priority10").cast("long")).as("sum_prio10"),
          sum(length(col("changefreq")).cast("long")).as("sum_freq_len"),
          sum(when(col("allowed"),
            TextAnalysis.tokenHash(col("canonical_url")) % lit(DigestMod))
            .otherwise(0L)).as("checksum"))
        .orderBy("source")
    },
    s"WITH c AS (SELECT doc_id, source, $CanonUrlSql AS cu " +
      "FROM documents) " +
      "SELECT source, CAST(2 * count(*) AS BIGINT) AS n_listed, " +
      "count(DISTINCT doc_id % 4) AS n_sitemaps, " +
      "count(*) AS n_frontier, " +
      "CAST(sum(CASE WHEN doc_id % 5 <> 4 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_allowed, " +
      "CAST(sum(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_blocked, " +
      "CAST(2 * sum(doc_id % 28 + 1) AS BIGINT) AS sum_day, " +
      "CAST(2 * sum(doc_id % 10) AS BIGINT) AS sum_prio10, " +
      "CAST(2 * sum(5 + doc_id % 3) AS BIGINT) AS sum_freq_len, " +
      "CAST(2 * sum(CASE WHEN doc_id % 5 <> 4 THEN " +
      s"${TextAnalysis.TokenHashSql("cu")} % $DigestMod ELSE 0 END) " +
      "AS BIGINT) AS checksum " +
      "FROM c GROUP BY source ORDER BY source")

  val all: Seq[Q] = Seq(
    textC4, qualityGopher, sourceWarc, sourceMarkdown, pipelineIngest,
    pipelineIngestRobots, curation, trainMix, pipelineModern, pipelineDiff,
    pipelineSelect, qualityCcnet, pipelinePosttrain, pipelineDatacard,
    pipelineTrainorder, pipelineForget, pipelineAttrition, pipelineKanon,
    sourceJsonl, pipelineDpRelease, sourceParquetMeta, pipelineOptout,
    sourceZip, sourceTar, sourceXml, sourceWarcRevisit, sourceRobots,
    pipelineCompliance, pipelineFrontier, sourcePdf, sourceMbox,
    sourceSubtitles, sourceMboxThreads, sourceEpub, pipelineExtract,
    sourcePatch)
}
