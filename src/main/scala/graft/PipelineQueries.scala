package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, Dsir, GraphRank, Layout, Multimodal, NgramLm, Pq, Ranking, Robots, Sampling, Similarity, TextAnalysis, Url}

/** Oracle corpus for the beyond-reference training-data-pipeline
  * operators (dedup, similarity search, text analysis, multimodal) —
  * first-class per BASELINE.json. Same conventions as
  * [[OracleQueries]]: grouped aggregates, ORDER BY, round(…, 5), and
  * DuckDB SQL generated from the SAME constants (hash coefficients,
  * hyperplane recurrences, stopword lists) the Scala operators use, so
  * both engines compute bit-identical results end to end.
  */
object PipelineQueries {
  import OracleQueries.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** Persist + register a frame consumed by 2+ subplans (released by
    * CacheRegistry.drain at end of query): the r14 optimization
    * round's duplicated-subtree fix — without the barrier every
    * consumer re-runs the whole build (q_sample_rho's plan scanned
    * documents.parquet 28 times; guide §7.2 / §5 caching). */
  private def pin(df: DataFrame): DataFrame =
    graft.core.CacheRegistry.track(df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
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
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private val P = Dedup.P

  /** 40-bit per-doc digest modulus: Σ over a billion docs < 2⁶³.
    * (Declared before first use — object vals initialize in order.) */
  private val DigestMod = 1099511627776L

  /** Embedding dimensionality of the driver testdata (declared at the
    * top — object vals initialize in ORDER, and a query SQL string
    * built before this line would freeze EmbDim = 0; bit us three
    * times now). */
  private val EmbDim = 64

  /** Fixed classifier weights shared by the scoring oracle and the
    * modern-pipeline composition (bias, len, stop, punct, wl). */
  private val ClsWeights = Array(-2.0, 1.5, 8.0, -3.0, 0.5)

  /** Checksum modulus for rebuilt-text hashes (sum stays well under
    * int64 even at sf100). Defined HERE, above every oracle string
    * that splices it — oracle strings build eagerly at class init,
    * so a later-defined val renders as 0 (the round-9 %0 trap). */
  private val CleanSumMod = 1000000007L

  /** Chunking geometry shared by [[textChunks]] and [[pipelineModern]]
    * (declared before first use — object vals initialize in order). */
  private val ChunkWindow = 32
  private val ChunkStride = 24

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

  // ------------------------------------------------------------ dedup

  private val dedupExact = Q("q_dedup_exact",
    (s, d) => docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .orderBy("source"),
    "SELECT source, count(*) AS n_docs, " +
      "count(DISTINCT md5(text)) AS n_unique " +
      "FROM documents GROUP BY source ORDER BY source")

  /** Shared SQL CTEs: distinct tokens + portable 60-bit hash. */
  private val tokSql =
    "toks AS (SELECT doc_id, source, " +
      "unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents), " +
      "h AS (SELECT doc_id, source, " +
      s"${TextAnalysis.TokenHashSql("tok")} AS th FROM toks)"

  /** Shared minhash SQL fragments (same constants as [[Dedup]]). */
  private val sigSql = (0 until Dedup.NumPerms).map(i =>
    s"min((${Dedup.MinhashAs(i)} * (th % $P) + ${Dedup.MinhashBs(i)}) % $P) AS sig$i")
    .mkString(", ")
  private val bandsSql: String = {
    val rows = Dedup.NumPerms / Dedup.NumBands
    (0 until Dedup.NumBands).map { b =>
      val key = (0 until rows).map(r => s"sig${b * rows + r}::VARCHAR")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
  }
  private val agreeSql = (0 until Dedup.NumPerms).map(i =>
    s"(CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END)").mkString(" + ")
  /** CTE chain up to `bands` (tok hashes → signatures → LSH band rows). */
  private val minhashCtes =
    s"$tokSql, sigs AS (SELECT doc_id, $sigSql FROM h GROUP BY doc_id), " +
      s"bands AS ($bandsSql)"
  /** Candidate pairs from buckets of size ≤ cap (cap ≤ 0: uncapped). */
  private def pairsSql(cap: Int): String =
    if (cap <= 0)
      "pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        "FROM bands x JOIN bands y ON x.band = y.band " +
        "AND x.band_key = y.band_key AND x.doc_id < y.doc_id)"
    else
      "bsz AS (SELECT band, band_key, count(*) AS bn FROM bands " +
        "GROUP BY band, band_key), " +
        "el AS (SELECT b.doc_id, b.band, b.band_key FROM bands b " +
        s"JOIN bsz USING (band, band_key) WHERE bsz.bn <= $cap), " +
        "pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        "FROM el x JOIN el y ON x.band = y.band " +
        "AND x.band_key = y.band_key AND x.doc_id < y.doc_id)"

  private val dedupMinhash = Q("q_dedup_minhash",
    (s, d) => {
      val cand = Dedup.minhashCandidates(docs(s, d), "text", "doc_id")
      cand.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        round(avg(col("est_jaccard")), 5).as("avg_est"))
    },
    s"WITH $minhashCtes, ${pairsSql(0)}, " +
      s"scored AS (SELECT id_a, id_b, ($agreeSql)/8.0 AS ej FROM pairs " +
      "JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id) " +
      "SELECT count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
      "round(avg(ej), 5) AS avg_est FROM scored")

  /** Bucket-size bound for pair generation at the correctness scale:
    * chosen so the synthetic template families (~320-doc buckets at
    * sf0.01, ~3k at sf0.1) are demonstrably diverted — uncapped, sf0.1
    * yields 9.9M pairs; capped at 50 it yields 13k. */
  private val MinhashCap = 50

  private val dedupMinhashCapped = Q("q_dedup_minhash_capped",
    (s, d) => {
      // one banded-signature lineage feeds both outputs
      val (cand, os) = Dedup.minhashCandidatesAndOversize(
        docs(s, d), "text", "doc_id", MinhashCap)
      cand.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        round(avg(col("est_jaccard")), 5).as("avg_est"))
        .crossJoin(os.agg(count(lit(1)).as("n_oversize"),
          sum(col("n_docs")).as("n_diverted")))
    },
    s"WITH $minhashCtes, ${pairsSql(MinhashCap)}, " +
      s"scored AS (SELECT id_a, id_b, ($agreeSql)/8.0 AS ej FROM pairs " +
      "JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id), " +
      "agg AS (SELECT count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
      "round(avg(ej), 5) AS avg_est FROM scored), " +
      s"os AS (SELECT count(*) AS n_oversize, CAST(sum(bn) AS BIGINT) " +
      s"AS n_diverted FROM bsz WHERE bn > $MinhashCap) " +
      "SELECT agg.*, os.* FROM agg CROSS JOIN os")

  /** Cluster-level MinHash dedup: stats over the doc → cluster map of
    * [[Dedup.minhashClusters]] — transitive closure (union-find
    * contraction connected components) of the capped
    * candidate graph at est ≥ 0.5 UNION exact-signature group edges.
    * The DuckDB side replays the identical edge set and closes it
    * with a recursive CTE, so the per-doc cluster labels (bound via
    * id_sum) match bit-for-bit. */
  /** Shared CTE chain: capped candidate pairs ∪ exact-signature group
    * edges → symmetric closure → per-doc `comp(node, cluster_id)` —
    * the DuckDB mirror of [[Dedup.minhashClusters]], reused by the
    * cluster-stats and canonical-selection oracles. Callers must open
    * with WITH RECURSIVE. */
  private val closureCtes: String = {
    val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
    s"$minhashCtes, ${pairsSql(MinhashCap)}, " +
      s"scored AS (SELECT id_a, id_b, ($agreeSql)/8.0 AS ej FROM pairs " +
      "JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id), " +
      s"gm AS (SELECT $sigList, min(doc_id) AS keep_id FROM sigs " +
      s"GROUP BY $sigList), " +
      "gedges AS (SELECT s.doc_id AS id_a, gm.keep_id AS id_b " +
      s"FROM sigs s JOIN gm USING ($sigList) WHERE s.doc_id <> gm.keep_id), " +
      "edges AS (SELECT id_a, id_b FROM scored WHERE ej >= 0.5 " +
      "UNION SELECT id_a, id_b FROM gedges), " +
      "sym AS (SELECT id_a AS u, id_b AS v FROM edges " +
      "UNION SELECT id_b AS u, id_a AS v FROM edges), " +
      "reach AS (SELECT doc_id AS node, doc_id AS r FROM sigs " +
      "UNION SELECT sym.v AS node, reach.r FROM reach " +
      "JOIN sym ON sym.u = reach.node), " +
      "comp AS (SELECT node, min(r) AS cluster_id FROM reach " +
      "GROUP BY node)"
  }

  private val dedupClusters = Q("q_dedup_clusters",
    (s, d) => {
      val cl = Dedup.minhashClusters(docs(s, d), "text", "doc_id",
        maxBucket = MinhashCap)
      val csz = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      cl.agg(count(lit(1)).as("n_docs"),
          sum(col("cluster_id")).as("id_sum"))
        .crossJoin(csz.agg(count(lit(1)).as("n_clusters"),
          max(col("sz")).as("max_cluster"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_redundant")))
    },
    s"WITH RECURSIVE $closureCtes, " +
      "csz AS (SELECT cluster_id, count(*) AS sz FROM comp " +
      "GROUP BY cluster_id) " +
      "SELECT (SELECT count(*) FROM comp) AS n_docs, " +
      "(SELECT CAST(sum(cluster_id) AS BIGINT) FROM comp) AS id_sum, " +
      "(SELECT count(*) FROM csz) AS n_clusters, " +
      "(SELECT max(sz) FROM csz) AS max_cluster, " +
      "(SELECT CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) " +
      "AS BIGINT) FROM csz) AS n_redundant")

  /** Leakage-safe group-aware train/val/test split
    * ([[graft.ops.Sampling.groupSplit]]): the split is a hash draw on
    * the dedup CLUSTER id, so near-duplicates can never straddle
    * train and test. The oracle replays the closure + the identical
    * draw; the straddle probe (clusters seeing > 1 split) is pinned
    * at 0 and per-split memberships by id checksum. */
  private val sampleGroupSplit = Q("q_sample_groupsplit",
    (s, d) => {
      val cl = Dedup.minhashClusters(docs(s, d), "text", "doc_id",
        maxBucket = MinhashCap)
      // deliberately UNPINNED (r14 optimization round): the split
      // frame's two consumers re-join the id snapshot against the
      // ALREADY-MATERIALIZED closure map — a pin measured neutral
      // (2.76 vs 2.70 s isolated min-of-6 at sf0.1), so the barrier
      // buys nothing
      val sp = Sampling.groupSplit(cl, "cluster_id", 0.1, 0.1)
      val straddle = sp.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_straddle"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("doc_id")).as("id_sum"))
        .crossJoin(straddle)
        .orderBy("split")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "sp AS (SELECT node AS doc_id, cluster_id, " +
      s"CASE WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 " +
      "THEN 'val' " +
      s"WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 + 0.1 " +
      "THEN 'test' ELSE 'train' END AS split FROM comp) " +
      "SELECT split, count(*) AS n_docs, " +
      "count(DISTINCT cluster_id) AS n_clusters, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "(SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "FROM (SELECT cluster_id, count(DISTINCT split) AS ns FROM sp " +
      "GROUP BY cluster_id)) AS n_straddle " +
      "FROM sp GROUP BY split ORDER BY split")

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

  /** Canonical (keep-best) selection over the MinHash clusters: the
    * longest member wins, ties to the lowest id — one struct-max hash
    * aggregate, never a rank Window. n_not_minid > 0 proves the rule
    * differs from min-id keeping. */
  private val dedupCanonical = Q("q_dedup_canonical",
    (s, d) => {
      val dd = docs(s, d)
      val cl = Dedup.minhashClusters(dd, "text", "doc_id",
        maxBucket = MinhashCap)
      val keep = Dedup.canonicalPerCluster(
        cl.join(dd.select(col("doc_id"), col("n_chars")), "doc_id"),
        "cluster_id", "doc_id", col("n_chars"))
      keep.agg(count(lit(1)).as("n_kept"),
        sum(col("keep_id")).as("keep_id_sum"),
        sum(col("keep_score")).as("chars_sum"),
        sum(when(col("keep_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("n_not_minid"),
        max(col("n_members")).as("max_cluster"))
    },
    s"WITH RECURSIVE $closureCtes, " +
      "j AS (SELECT comp.cluster_id, comp.node AS doc_id, d.n_chars " +
      "FROM comp JOIN documents d ON comp.node = d.doc_id), " +
      "rk AS (SELECT cluster_id, doc_id, n_chars, " +
      "row_number() OVER (PARTITION BY cluster_id " +
      "ORDER BY n_chars DESC, doc_id ASC) AS rn, " +
      "count(*) OVER (PARTITION BY cluster_id) AS nm FROM j) " +
      "SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) " +
      "AS keep_id_sum, CAST(sum(n_chars) AS BIGINT) AS chars_sum, " +
      "CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_not_minid, CAST(max(nm) AS BIGINT) AS max_cluster " +
      "FROM rk WHERE rn = 1")

  private val dedupMinhashGroups = Q("q_dedup_minhash_groups",
    (s, d) => {
      val g = Dedup.minhashGroups(docs(s, d), "text", "doc_id")
      g.agg(count(lit(1)).as("n_groups"),
        max(col("n_copies")).as("max_group"),
        sum(col("n_copies")).as("n_docs"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1L).otherwise(0L))
          .as("n_redundant"))
    }, {
      val sigExprs = (0 until Dedup.NumPerms).map(i =>
        s"min((${Dedup.MinhashAs(i)} * (th % $P) + ${Dedup.MinhashBs(i)}) % $P) AS sig$i")
        .mkString(", ")
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      s"WITH $tokSql, " +
        s"sigs AS (SELECT doc_id, $sigExprs FROM h GROUP BY doc_id), " +
        s"g AS (SELECT $sigList, min(doc_id) AS keep_id, count(*) AS n " +
        s"FROM sigs GROUP BY $sigList) " +
        "SELECT count(*) AS n_groups, max(n) AS max_group, " +
        "CAST(sum(n) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) " +
        "AS n_redundant FROM g"
    })

  private val dedupSimhash = Q("q_dedup_simhash",
    (s, d) => {
      val sims = Dedup.simhash16(docs(s, d), "text", "doc_id")
      docs(s, d).select("doc_id", "source").join(sims, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("simhash")).as("n_distinct"),
          sum(bit_count(col("simhash")).cast("long")).as("sum_bits"))
        .orderBy("source")
    }, {
      val bitSums = (0 until 16).map(b =>
        s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bs$b")
        .mkString(", ")
      val simExpr = (0 until 16).map(b =>
        s"(CASE WHEN bs$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"WITH $tokSql, " +
        s"bits AS (SELECT doc_id, source, $bitSums FROM h GROUP BY doc_id, source), " +
        s"sim AS (SELECT doc_id, source, $simExpr AS simhash FROM bits) " +
        "SELECT source, count(*) AS n_docs, " +
        "count(DISTINCT simhash) AS n_distinct, " +
        "CAST(sum(bit_count(CAST(simhash AS BIGINT))) AS BIGINT) AS sum_bits " +
        "FROM sim GROUP BY source ORDER BY source"
    })

  /** N-gram Jaccard VERIFICATION over the MinHash candidate set — the
    * scale plan: per-doc trigram sets are computed once (one scan), the
    * capped candidate pairs (see [[dedupMinhashCapped]]) join them back
    * by id, and exact Jaccard re-scores only those pairs. The former
    * all-pairs-per-source join was O(n² per source) — correct but a
    * scale-killer; candidates → exact-verify is how the operator is
    * meant to compose at 100 TB. */
  /** Band-blocked hamming-ball dedup over the 60-bit SimHash
    * ([[Dedup.hammingPairs64]]): 4×16-bit bands make the candidate
    * join pigeonhole-complete for hamming ≤ 3, the bucket cap diverts
    * template-family bands (the MinHash skew bound), and
    * `bit_count(xor)` verifies — the signature-sketch tier of text
    * near-dup detection, and byte-for-byte the machinery image
    * aHash/pHash dedup runs on (PhashDedupSpec drives it over real
    * decoded BMP/PNG pixels). Only 16-byte (id, sig) rows shuffle. */
  /** Shared 60-bit SimHash CTE chain (bits → sim) over the `h`
    * (doc_id, th) relation from [[tokSql]] — the SQL twin of
    * [[graft.ops.TextHashExpressions.simhash60]]. */
  private val sim60Ctes: String = {
    val bitSums = (0 until 60).map(b =>
      s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bs$b")
      .mkString(", ")
    val simExpr = (0 until 60).map(b =>
      s"(CASE WHEN bs$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id), " +
      s"sim AS (SELECT doc_id, $simExpr AS sim FROM bits)"
  }

  private val HammingTau = 3
  private val dedupHamming = Q("q_dedup_hamming",
    (s, d) => {
      val d0 = docs(s, d)
      val sh = Dedup.simhash60(d0, "text", "doc_id")
      val pairs = Dedup.hammingPairs64(sh, "simhash", "doc_id",
        HammingTau, MinhashCap)
      pairs
        .join(d0.select(col("doc_id").as("id_a"), col("source")), "id_a")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_exact"),
          round(avg(col("hamming").cast("double")), 5).as("avg_h"),
          sum(pmod(col("id_a") * 131L + col("id_b"), lit(CleanSumMod)))
            .as("digest"))
        .orderBy("source")
    }, {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, (sim >> ${b * 16}) & 65535 AS key " +
          "FROM sim").mkString(" UNION ALL ")
      s"WITH $tokSql, $sim60Ctes, " +
        s"bands AS ($bands), " +
        "bsz AS (SELECT band, key, count(*) AS bn FROM bands " +
        "GROUP BY band, key), " +
        "el AS (SELECT b.doc_id, b.band, b.key FROM bands b " +
        s"JOIN bsz USING (band, key) WHERE bsz.bn <= $MinhashCap), " +
        "pr AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        "FROM el x JOIN el y ON x.band = y.band AND x.key = y.key " +
        "AND x.doc_id < y.doc_id), " +
        "hv AS (SELECT id_a, id_b, " +
        "bit_count(xor(sa.sim, sb.sim)) AS hamming " +
        "FROM pr JOIN sim sa ON id_a = sa.doc_id " +
        "JOIN sim sb ON id_b = sb.doc_id) " +
        s"SELECT d.source, count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_exact, " +
        "round(avg(CAST(hamming AS DOUBLE)), 5) AS avg_h, " +
        s"CAST(sum((id_a * 131 + id_b) % $CleanSumMod) AS BIGINT) " +
        "AS digest " +
        s"FROM hv JOIN documents d ON hv.id_a = d.doc_id " +
        s"WHERE hamming <= $HammingTau " +
        "GROUP BY d.source ORDER BY d.source"
    })

  /** Recall/precision harness for the hamming dedup — the
    * tune-before-a-corpus-run dial (the q_dedup_lsh_recall
    * discipline, text side): over the capped MinHash candidate
    * superset, ground truth = trigram Jaccard ≥ 0.5, flagged = 60-bit
    * SimHash within hamming ≤ τ. Recall says how much real
    * duplication the signature tier catches; precision says how much
    * it over-flags — both exact integer ratios, guarded identically
    * against empty denominators on both engines. */
  private val HamRecallJ = 0.5
  private val dedupHammingRecall = Q("q_dedup_hamming_recall",
    (s, d) => {
      val d0 = docs(s, d)
      val cand = Dedup.minhashCandidates(d0, "text", "doc_id",
        maxBucket = MinhashCap, numBands = Dedup.NumBands)
        .select("id_a", "id_b")
      val grams = d0.select(col("doc_id"),
        array_distinct(Dedup.wordNgrams(col("text"), 3)).as("gr"))
      val jcol = size(array_intersect(col("gr_a"), col("gr_b")))
        .cast("double") /
        size(array_union(col("gr_a"), col("gr_b"))).cast("double")
      val truth = cand
        .join(grams.select(col("doc_id").as("id_a"),
          col("gr").as("gr_a")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"),
          col("gr").as("gr_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (jcol >= HamRecallJ).as("is_dup"))
      val sh = Dedup.simhash60(d0, "text", "doc_id")
      val flags = truth
        .join(sh.select(col("doc_id").as("id_a"),
          col("simhash").as("ha")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"),
          col("simhash").as("hb")), "id_b")
        .select(col("is_dup"),
          (bit_count(col("ha").bitwiseXOR(col("hb"))) <= HammingTau)
            .as("is_ham"))
      flags
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_truth"),
          sum(when(col("is_ham"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("is_dup") && col("is_ham"), 1L).otherwise(0L))
            .as("n_hit"))
        .select(col("n_pairs"), col("n_truth"), col("n_flagged"),
          col("n_hit"),
          when(col("n_truth") > 0, round(col("n_hit").cast("double") /
            col("n_truth").cast("double"), 5)).as("recall"),
          when(col("n_flagged") > 0, round(col("n_hit").cast("double") /
            col("n_flagged").cast("double"), 5)).as("prec"))
    },
    s"WITH $minhashCtes, ${pairsSql(MinhashCap)}, $sim60Ctes, " +
      "g AS (SELECT doc_id, list_distinct(" +
      "[ws[i] || '_' || ws[i+1] || '_' || ws[i+2] " +
      "for i in range(1, len(ws) - 1)]) AS gr " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ws " +
      "FROM documents)), " +
      "tr AS (SELECT id_a, id_b, " +
      "(len(list_intersect(a.gr, b.gr))::DOUBLE / " +
      s"len(list_distinct(list_concat(a.gr, b.gr)))::DOUBLE >= " +
      s"$HamRecallJ) AS is_dup " +
      "FROM pairs JOIN g a ON pairs.id_a = a.doc_id " +
      "JOIN g b ON pairs.id_b = b.doc_id), " +
      "hm AS (SELECT tr.is_dup, " +
      s"(bit_count(xor(sa.sim, sb.sim)) <= $HammingTau) AS is_ham " +
      "FROM tr JOIN sim sa ON tr.id_a = sa.doc_id " +
      "JOIN sim sb ON tr.id_b = sb.doc_id) " +
      "SELECT n_pairs, n_truth, n_flagged, n_hit, " +
      "CASE WHEN n_truth > 0 THEN round(CAST(n_hit AS DOUBLE) / " +
      "CAST(n_truth AS DOUBLE), 5) END AS recall, " +
      "CASE WHEN n_flagged > 0 THEN round(CAST(n_hit AS DOUBLE) / " +
      "CAST(n_flagged AS DOUBLE), 5) END AS prec " +
      "FROM (SELECT count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_truth, " +
      "CAST(sum(CASE WHEN is_ham THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_flagged, " +
      "CAST(sum(CASE WHEN is_dup AND is_ham THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_hit FROM hm)")

  private val dedupNgram = Q("q_dedup_ngram_jaccard",
    (s, d) => {
      val grams = docs(s, d).select(col("doc_id"),
        array_distinct(Dedup.wordNgrams(col("text"), 3)).as("gr"))
      val cand = Dedup.minhashCandidates(docs(s, d), "text", "doc_id",
        maxBucket = MinhashCap, numBands = Dedup.NumBands)
        .select("id_a", "id_b")
      val j = size(array_intersect(col("gr_a"), col("gr_b"))).cast("double") /
        size(array_union(col("gr_a"), col("gr_b"))).cast("double")
      cand
        .join(grams.select(col("doc_id").as("id_a"), col("gr").as("gr_a")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"), col("gr").as("gr_b")), "id_b")
        .select(j.as("j"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("j") >= 0.3, 1L).otherwise(0L)).as("n_dups"),
          round(avg(col("j")), 5).as("avg_j"))
    },
    s"WITH $minhashCtes, ${pairsSql(MinhashCap)}, " +
      "g AS (SELECT doc_id, list_distinct(" +
      "[ws[i] || '_' || ws[i+1] || '_' || ws[i+2] " +
      "for i in range(1, len(ws) - 1)]) AS gr " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ws " +
      "FROM documents)), " +
      "jj AS (SELECT len(list_intersect(a.gr, b.gr))::DOUBLE / " +
      "len(list_distinct(list_concat(a.gr, b.gr)))::DOUBLE AS j " +
      "FROM pairs JOIN g a ON pairs.id_a = a.doc_id " +
      "JOIN g b ON pairs.id_b = b.doc_id) " +
      "SELECT count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
      "round(avg(j), 5) AS avg_j FROM jj")

  /** Fixture for containment: a 60-word page, an 18-word excerpt of
    * its middle (offset 7 — deliberately NOT a multiple of any chunk
    * width; J = 16/58 ≈ 0.28, far below any symmetric-dup threshold),
    * and an unrelated page. Words are corpus-foreign so their grams
    * are rare by construction. */
  private val ContainWords = (1 to 60).map(i => f"contword$i%02d")
  private val ContainRows: Seq[(Long, String)] = Seq(
    (940001L, ContainWords.mkString(" ")),
    (940002L, ContainWords.slice(7, 25).mkString(" ")),
    (940003L, (1 to 20).map(i => f"otherword$i%02d").mkString(" ")))

  private val ContainMaxDf = 20
  private val ContainMinShared = 2

  /** Containment (excerpt/superset) detection: rare-n-gram blocking
    * pairs + exact asymmetric re-score. The excerpt fixture pair MUST
    * surface with cmax = 1 while its Jaccard stays low — the pair
    * class MinHash LSH provably misses (q_dedup_ngram_jaccard's
    * candidate source finds 0 such pairs). */
  private val dedupContainment = Q("q_dedup_containment",
    (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
        .unionByName(ContainRows.toDF("doc_id", "text"))
      val pairs = Dedup.containmentPairs(all, "text", "doc_id",
        n = 3, maxDf = ContainMaxDf, minShared = ContainMinShared,
        cache = pin)
      val txt = all.select(col("doc_id"), col("text"))
      val scored = pairs
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .select(col("id_a"), col("id_b"),
          Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("j"),
          Dedup.ngramContainmentMax(col("ta"), col("tb"), 3).as("cmax"))
      scored.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cmax") >= 0.9, 1L).otherwise(0L)).as("n_contained"),
        sum(when(col("cmax") >= 0.9 && col("j") < 0.4, 1L).otherwise(0L))
          .as("n_asym"),
        sum(when(col("cmax") >= 0.9 && col("j") < 0.4,
          col("id_a") + col("id_b")).otherwise(0L)).as("asym_ids"),
        round(avg(col("cmax")), 5).as("avg_cmax"))
    },
    {
      val vals = ContainRows.map { case (id, t) => s"($id, '$t')" }
        .mkString(", ")
      val fp3 = s"((hl[i] * 31 + hl[i+1]) % ${Dedup.NgramFpMod} * 31 " +
        s"+ hl[i+2]) % ${Dedup.NgramFpMod}"
      s"WITH alldocs AS (SELECT doc_id, text FROM documents " +
        s"UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)), " +
        "t AS (SELECT doc_id, text, " +
        s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
        "for w in string_split(text, ' ')] AS hl FROM alldocs), " +
        "g AS (SELECT doc_id, unnest(list_distinct(" +
        s"[$fp3 for i in range(1, len(hl) - 1)])) AS gr FROM t), " +
        "cnt AS (SELECT gr, count(*) AS df FROM g GROUP BY gr), " +
        "rare AS (SELECT g.doc_id, g.gr FROM g JOIN cnt USING (gr) " +
        s"WHERE cnt.df >= 2 AND cnt.df <= $ContainMaxDf), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM rare a JOIN rare b ON a.gr = b.gr " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2 " +
        s"HAVING count(*) >= $ContainMinShared), " +
        "gs AS (SELECT doc_id, list_distinct(" +
        "[ws[i] || '_' || ws[i+1] || '_' || ws[i+2] " +
        "for i in range(1, len(ws) - 1)]) AS gr " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS ws " +
        "FROM alldocs)), " +
        "jj AS (SELECT id_a, id_b, " +
        "len(list_intersect(a.gr, b.gr))::DOUBLE / " +
        "len(list_distinct(list_concat(a.gr, b.gr)))::DOUBLE AS j, " +
        "len(list_intersect(a.gr, b.gr))::DOUBLE / " +
        "least(len(a.gr), len(b.gr))::DOUBLE AS cmax " +
        "FROM pairs JOIN gs a ON pairs.id_a = a.doc_id " +
        "JOIN gs b ON pairs.id_b = b.doc_id) " +
        "SELECT count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN cmax >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_contained, " +
        "CAST(sum(CASE WHEN cmax >= 0.9 AND j < 0.4 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_asym, " +
        "CAST(sum(CASE WHEN cmax >= 0.9 AND j < 0.4 " +
        "THEN id_a + id_b ELSE 0 END) AS BIGINT) AS asym_ids, " +
        "round(avg(cmax), 5) AS avg_cmax FROM jj"
    })

  // ------------------------------------------------- similarity search

  private def dotSql(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1, len($a))])"

  private val embedTop1 = Q("q_embed_top1",
    (s, d) => {
      val top1 = Similarity.cosineTop1(embs(s, d), "vec_id", "embedding")
      embs(s, d).select(col("vec_id").as("id_a"), col("label"))
        .join(top1, "id_a")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg(col("top1_cos")), 5).as("avg_top1"))
        .orderBy("label")
    },
    "WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "top1 AS (SELECT a.vec_id, a.label, " +
      s"max(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm)) AS top1_cos " +
      "FROM e a JOIN e b ON a.vec_id <> b.vec_id " +
      "GROUP BY a.vec_id, a.label) " +
      "SELECT label, count(*) AS n, round(avg(top1_cos), 5) AS avg_top1 " +
      "FROM top1 GROUP BY label ORDER BY label")

  /** Bucket arithmetic shared with [[Similarity.lshBucket]]: the
    * hyperplane formula comes from [[Similarity.hyperplaneSql]] (same
    * constants as the Column form → bit-identical buckets in DuckDB). */
  private def bucketSql(nBits: Int): String = {
    val dots = (0 until nBits).map { b =>
      s"list_sum([CAST(embedding[i] AS DOUBLE) * " +
        s"(${Similarity.hyperplaneSql(b, "i")}) " +
        "for i in generate_series(1, len(embedding))])"
    }
    dots.zipWithIndex.map { case (dt, b) =>
      s"(CASE WHEN ($dt) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def lshStatsQ(name: String, nBits: Int): Q = Q(name,
    (s, d) => Similarity.lshBuckets(embs(s, d), "vec_id", "embedding", nBits)
      .groupBy("bucket")
      .agg(count(lit(1)).as("nb"))
      .agg(count(lit(1)).as("n_buckets"), max(col("nb")).as("max_bucket"),
        sum(col("nb")).as("n_vecs")),
    s"WITH bk AS (SELECT vec_id, (${bucketSql(nBits)}) AS bucket FROM embeddings), " +
      "sizes AS (SELECT bucket, count(*) AS nb FROM bk GROUP BY bucket) " +
      "SELECT count(*) AS n_buckets, max(nb) AS max_bucket, " +
      "CAST(sum(nb) AS BIGINT) AS n_vecs FROM sizes")

  /** Exact top-3 via the bounded [[graft.ops.TopKAgg]] imperative
    * aggregate (O(k) state, partial-agg'd) — the oracle verifies the
    * top-k SCORES (tie id order is engine-dependent; score sets are
    * not). */
  private val embedTopK = Q("q_embed_topk",
    (s, d) => {
      val tk = Similarity.cosineTopK(embs(s, d), "vec_id", "embedding", 3)
      val meanTop = aggregate(
        transform(col("topk"), x => x.getField("score")),
        lit(0.0), (a, v) => a + v) / size(col("topk")).cast("double")
      embs(s, d).select(col("vec_id").as("id_a"), col("label"))
        .join(tk, "id_a")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg(meanTop), 5).as("avg_top3"))
        .orderBy("label")
    },
    "WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "p AS (SELECT a.vec_id, a.label, " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM e a JOIN e b ON a.vec_id <> b.vec_id), " +
      "r AS (SELECT vec_id, label, cos, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY cos DESC) AS rn FROM p), " +
      "t AS (SELECT vec_id, label, sum(cos)/count(*) AS mean_top " +
      "FROM r WHERE rn <= 3 GROUP BY vec_id, label) " +
      "SELECT label, count(*) AS n, round(avg(mean_top), 5) AS avg_top3 " +
      "FROM t GROUP BY label ORDER BY label")

  /** Mutual-kNN graph (the substrate of graph-based curation): exact
    * edge membership, mutuality counts, and rank checksums pinned
    * cross-engine — [[graft.ops.TopKAgg]]'s (cos desc, id asc) order
    * and the forward-order dot make the edge SET deterministic, so the
    * oracle rebuilds it with a rank window over the same buckets. */
  /** MMR diversity selection ([[Similarity.mmrSelect]]) with k = 4,
    * λ = 0.7: the oracle replays the greedy loop as four unrolled
    * CTE rounds (the q_embed_coreset discipline) — argmax ties to the
    * lowest id, scores are the identical pure-IEEE expression, so the
    * selected sequence pins exactly. */
  private val MmrK = 4
  private val embedMmr = Q("q_embed_mmr",
    (s, d) => {
      val sel = Similarity.mmrSelect(embs(s, d), "vec_id", "embedding",
        MmrK, lam = 0.7, oneMinusLam = 0.3)
      import s.implicits._
      sel.toDF("rnk", "sel_id", "score")
        .select(col("rnk").cast("long").as("rnk"), col("sel_id"),
          round(col("score"), 5).as("score"))
        .orderBy("rnk")
    }, {
      val sb = new StringBuilder(
        "WITH e AS (SELECT vec_id, embedding AS emb, " +
          s"sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
          "FROM embeddings), " +
          "p AS (SELECT vec_id, emb, nrm FROM e ORDER BY vec_id " +
          "LIMIT 1), " +
          "r AS (SELECT e.vec_id, e.emb, e.nrm, " +
          s"${dotSql("e.emb", "p.emb")} / (e.nrm * p.nrm) AS rel " +
          "FROM e CROSS JOIN p), " +
          "a0 AS (SELECT vec_id, emb, nrm, rel, " +
          "CAST(NULL AS DOUBLE) AS ms FROM r), " +
          "s0 AS (SELECT vec_id, emb, nrm, rel AS score FROM a0 " +
          "ORDER BY rel DESC, vec_id ASC LIMIT 1), ")
      for (i <- 1 until MmrK) {
        val prev = s"a${i - 1}"
        val sel = s"s${i - 1}"
        val cosSel = s"${dotSql(s"$prev.emb", s"$sel.emb")} / " +
          s"($prev.nrm * $sel.nrm)"
        sb ++= s"a$i AS (SELECT $prev.vec_id, $prev.emb, $prev.nrm, " +
          s"$prev.rel, CASE WHEN $prev.ms IS NULL THEN ($cosSel) " +
          s"ELSE greatest($prev.ms, ($cosSel)) END AS ms " +
          s"FROM $prev CROSS JOIN $sel " +
          s"WHERE $prev.vec_id <> $sel.vec_id), "
        sb ++= s"s$i AS (SELECT vec_id, emb, nrm, " +
          s"0.7 * rel - 0.3 * ms AS score FROM a$i " +
          "ORDER BY score DESC, vec_id ASC LIMIT 1), "
      }
      sb.setLength(sb.length - 2)
      sb ++= " "
      sb ++= (0 until MmrK)
        .map(i => s"SELECT CAST($i AS BIGINT) AS rnk, " +
          s"vec_id AS sel_id, round(score, 5) AS score FROM s$i")
        .mkString("", " UNION ALL ", " ORDER BY rnk")
      sb.toString
    })

  /** Hard-negative mining ([[Similarity.hardNegatives]]): per anchor
    * the top-3 most-similar DIFFERENT-label vectors from LSH bucket
    * collisions — the contrastive-training batch-construction stage.
    * Same determinism contract as the kNN graph ([[TopK]] orders
    * (cos desc, id asc)), so the mined edge set is a pure function of
    * the input and the oracle rebuilds it with a rank window over the
    * same buckets. */
  private val embedHardNeg = Q("q_embed_hardneg",
    (s, d) => {
      val hn = Similarity.hardNegatives(embs(s, d), "vec_id",
        "embedding", "label", 3)
      hn.select(col("id_a"), col("label_a"),
          posexplode(col("topk")).as(Seq("rank", "e")))
        .groupBy(col("label_a").as("label"))
        .agg(countDistinct(col("id_a")).as("n_anchors"),
          count(lit(1)).as("n_negs"),
          round(avg(col("e.score")), 5).as("avg_cos"),
          sum(col("id_a") * 131L + col("e.id") * 7L +
            (col("rank") + 1)).as("checksum"))
        .orderBy("label")
    },
    s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"(${bucketSql(8)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "p AS (SELECT a.vec_id AS src, a.label AS label_a, " +
      s"b.vec_id AS dst, ${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) " +
      "AS cos FROM e a JOIN e b ON a.bucket = b.bucket " +
      "AND a.vec_id <> b.vec_id AND a.label <> b.label), " +
      "r AS (SELECT src, label_a, dst, cos, row_number() OVER " +
      "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk FROM p) " +
      "SELECT label_a AS label, count(DISTINCT src) AS n_anchors, " +
      "count(*) AS n_negs, round(avg(cos), 5) AS avg_cos, " +
      "CAST(sum(src * 131 + dst * 7 + rnk) AS BIGINT) AS checksum " +
      "FROM r WHERE rnk <= 3 GROUP BY label_a ORDER BY label")

  private val embedKnnGraph = Q("q_embed_knngraph",
    (s, d) => {
      val g = Similarity.knnGraph(embs(s, d), "vec_id", "embedding", 3)
      embs(s, d).select(col("vec_id").as("src"), col("label"))
        .join(g, "src")
        .groupBy("label")
        .agg(count(lit(1)).as("n_edges"),
          sum(col("mutual").cast("long")).as("n_mutual"),
          round(avg(col("cos")), 5).as("avg_cos"),
          sum(col("src") * 1000003L + col("dst") * 131L + col("rank"))
            .as("checksum"))
        .orderBy("label")
    },
    s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"(${bucketSql(8)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "p AS (SELECT a.vec_id AS src, a.label, b.vec_id AS dst, " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
      "r AS (SELECT src, label, dst, cos, row_number() OVER " +
      "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rank FROM p), " +
      "g AS (SELECT * FROM r WHERE rank <= 3), " +
      "m AS (SELECT g.*, CASE WHEN g2.src IS NOT NULL THEN 1 ELSE 0 END " +
      "AS mutual FROM g LEFT JOIN g g2 " +
      "ON g2.src = g.dst AND g2.dst = g.src) " +
      "SELECT label, count(*) AS n_edges, " +
      "CAST(sum(mutual) AS BIGINT) AS n_mutual, " +
      "round(avg(cos), 5) AS avg_cos, " +
      "CAST(sum(src * 1000003 + dst * 131 + rank) AS BIGINT) AS checksum " +
      "FROM m GROUP BY label ORDER BY label")

  /** Integer-exact PageRank over the directed kNN edge set — which
    * vectors anchor the similarity graph (curation weighting / seed
    * selection). [[graft.ops.GraphRank.pageRankInt]]'s fixed-point
    * recurrence uses only int64 +, ×, and non-negative integer
    * division, so the oracle replays all [[PrIters]] power-iteration
    * rounds as CTE stages (the BPE pattern) and every rank matches
    * BIT FOR BIT — including the dangling-mass redistribution and
    * per-label argmax node. */
  private val PrScale = 1000000000000L
  private val PrIters = 3
  private val embedPageRank = Q("q_embed_pagerank",
    (s, d) => {
      val g = Similarity.knnGraph(embs(s, d), "vec_id", "embedding", 3)
        .select("src", "dst")
      val pr = GraphRank.pageRankInt(g, "src", "dst", PrIters, PrScale)
      val j = pr.join(embs(s, d)
        .select(col("vec_id").as("node"), col("label")), "node")
      val mx = j.groupBy("label").agg(max(col("rank")).as("__mx"))
      val top = j.join(mx, "label").where(col("rank") === col("__mx"))
        .groupBy("label").agg(min(col("node")).as("top_id"))
      j.groupBy("label")
        .agg(count(lit(1)).as("n_nodes"), sum(col("rank")).as("rank_sum"),
          max(col("rank")).as("max_rank"))
        .join(top, "label")
        .select("label", "n_nodes", "rank_sum", "max_rank", "top_id")
        .orderBy("label")
    }, {
      val base = s"((${100 - 85} * ($PrScale // nn.n)) // 100)"
      val sb = new StringBuilder(
        s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
          s"(${bucketSql(8)}) AS bucket, " +
          s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
          "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
          s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
          "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
          "r AS (SELECT src, dst, row_number() OVER " +
          "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk FROM p), " +
          "g AS (SELECT src, dst FROM r WHERE rk <= 3), " +
          "nodes AS (SELECT DISTINCT src AS node FROM g " +
          "UNION SELECT DISTINCT dst FROM g), " +
          "nn AS (SELECT count(*) AS n FROM nodes), " +
          "deg AS (SELECT src, count(*) AS deg FROM g GROUP BY src), " +
          s"r0 AS (SELECT node, ($PrScale // n) AS rank " +
          "FROM nodes CROSS JOIN nn), ")
      for (i <- 1 to PrIters) {
        val p = s"r${i - 1}"
        sb ++= s"d$i AS (SELECT COALESCE(sum(r.rank), 0) AS dmass " +
          s"FROM $p r LEFT JOIN deg ON r.node = deg.src " +
          "WHERE deg.src IS NULL), " +
          s"c$i AS (SELECT g.dst, sum(r.rank // dg.deg) AS inflow " +
          s"FROM g JOIN $p r ON g.src = r.node " +
          "JOIN deg dg ON g.src = dg.src GROUP BY g.dst), " +
          s"r$i AS (SELECT n2.node, $base + " +
          s"(85 * (COALESCE(c.inflow, 0) + (d$i.dmass // nn.n))) // 100 " +
          s"AS rank FROM nodes n2 LEFT JOIN c$i c ON n2.node = c.dst " +
          s"CROSS JOIN d$i CROSS JOIN nn), "
      }
      sb ++= s"j AS (SELECT f.node, f.rank, em.label FROM r$PrIters f " +
        "JOIN embeddings em ON f.node = em.vec_id), " +
        "mx AS (SELECT label, max(rank) AS mxr FROM j GROUP BY label), " +
        "tp AS (SELECT j.label, min(j.node) AS top_id FROM j " +
        "JOIN mx ON j.label = mx.label AND j.rank = mx.mxr " +
        "GROUP BY j.label) " +
        "SELECT j.label, count(*) AS n_nodes, " +
        "CAST(sum(j.rank) AS BIGINT) AS rank_sum, " +
        "CAST(max(j.rank) AS BIGINT) AS max_rank, " +
        "CAST(min(tp.top_id) AS BIGINT) AS top_id " +
        "FROM j JOIN tp ON j.label = tp.label " +
        "GROUP BY j.label ORDER BY j.label"
      sb.toString
    })

  /** Johnson–Lindenstrauss ±1 sign projection
    * ([[graft.ops.Similarity.signProjection]]): 64 → 16 dims in one
    * codegen'd matVec pass, matrix a plan constant the oracle inlines
    * as literals. Checks the JL norm estimate E[‖Sx‖²/k] ≈ ‖x‖² per
    * label plus the exact first component — forward-order
    * accumulation matches the DuckDB nested comprehension bit for
    * bit. */
  private val RpK = 16
  private val embedRp = Q("q_embed_rp",
    (s, d) => {
      val m = Similarity.signProjection(EmbDim, RpK)
      val xx = graft.ops.VecExpressions
        .dot(col("embedding"), col("embedding"))
      embs(s, d)
        // computeOnce pins the self-dot in this projection: the
        // xx > 0 filter otherwise sinks below it and re-runs the dot
        // in a Filter (PlanAudit r11)
        .select(col("label"),
          Similarity.jlProject(col("embedding"), m).as("y"),
          graft.ops.PlanHints.computeOnce(xx).as("xx"))
        .where(col("xx") > 0)
        .select(col("label"),
          ((graft.ops.VecExpressions.dot(col("y"), col("y")) /
            lit(RpK.toDouble)) / col("xx")).as("ratio"),
          element_at(col("y"), 1).as("y1"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("ratio")), 5).as("avg_ratio"),
          round(avg(col("y1")), 5).as("avg_y1"))
        .orderBy("label")
    }, {
      val m = Similarity.signProjection(EmbDim, RpK)
      val mLit = m.map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      // matrix hoisted into a one-row CTE: inlining ($mLit)[j][i]
      // re-materializes the whole 16x64 literal per (row, j, i) and
      // takes DuckDB minutes — the cross join evaluates it once
      s"WITH y AS (SELECT vec_id, label, " +
        s"[list_sum([CAST(embedding[i] AS DOUBLE) * mm.m[j][i] " +
        s"for i in generate_series(1, $EmbDim)]) " +
        s"for j in generate_series(1, $RpK)] AS y, " +
        s"${dotSql("embedding", "embedding")} AS xx FROM embeddings " +
        s"CROSS JOIN (SELECT $mLit AS m) mm) " +
        "SELECT label, count(*) AS n, " +
        s"round(avg((list_sum([y[j] * y[j] for j in " +
        s"generate_series(1, $RpK)]) / ${RpK}.0) / xx), 5) AS avg_ratio, " +
        "round(avg(y[1]), 5) AS avg_y1 " +
        "FROM y WHERE xx > 0 GROUP BY label ORDER BY label"
    })

  /** JL-projection-fed ANN: LSH buckets computed over the PROJECTED
    * 16-dim vectors (4× narrower than hashing the raw embedding —
    * the production pattern: a cheap narrow key for bucketing, exact
    * scoring on the full vectors only within buckets), within-bucket
    * top-1 on the original 64-dim embeddings, recall measured against
    * the exact top-1. Everything deterministic: projected components
    * and hyperplane dots are forward-order folds, argmaxes break
    * ties (cos desc, id asc). */
  private val embedRpAnn = Q("q_embed_rp_ann",
    (s, d) => {
      val m = Similarity.signProjection(EmbDim, RpK)
      val e = embs(s, d)
      // null-filter + KnownNotNull so the bucket join key is
      // non-nullable — otherwise the inferred IsNotNull re-runs the
      // project+hash kernel in a pushed-down Filter (PlanAudit r11)
      val base = e.where(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"), col("embedding"),
          Similarity.lshBucket(
            Similarity.jlProject(
              graft.ops.PlanHints.knownNotNull(col("embedding")), m), 8)
            .as("bucket"))
      def top1(pairs: DataFrame): DataFrame = pairs
        .groupBy(col("src"))
        .agg(max(struct(col("cos"), (-col("dst")).as("nd"))).as("__m"))
        .select(col("src"), (-col("__m.nd")).as("best_id"),
          col("__m.cos").as("best_cos"))
      val a = base.select(col("vec_id").as("src"), col("label"),
        col("embedding").as("ea"), col("bucket"))
      val bb = base.select(col("vec_id").as("dst"),
        col("embedding").as("eb"), col("bucket"))
      val ann = top1(a.join(bb, Seq("bucket"))
        .where(col("src") =!= col("dst"))
        .select(col("src"),
          Similarity.cosine(col("ea"), col("eb")).as("cos"), col("dst")))
      val ea = e.select(col("vec_id").as("src"), col("label"),
        col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("dst"), col("embedding").as("eb"))
      val exact = top1(ea.join(eb, col("src") =!= col("dst"))
        .select(col("src"),
          Similarity.cosine(col("ea"), col("eb")).as("cos"), col("dst")))
        .select(col("src"), col("best_id").as("top_id"))
      ann.join(e.select(col("vec_id").as("src"), col("label")), "src")
        .join(exact, "src")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("best_id") === col("top_id"), 1L).otherwise(0L))
            .as("n_match"),
          round(avg(col("best_cos")), 5).as("avg_ann_cos"))
        .orderBy("label")
    }, {
      val m = Similarity.signProjection(EmbDim, RpK)
      val mLit = m.map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      val bucketOverY = (0 until 8).map { b =>
        s"(CASE WHEN (list_sum([y[i] * " +
          s"(${Similarity.hyperplaneSql(b, "i")}) " +
          s"for i in generate_series(1, $RpK)])) > 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
        s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
        // same CTE-hoist as q_embed_rp: never index an inline matrix
        // literal inside a comprehension (per-element re-materialization)
        s"yv AS (SELECT vec_id, label, emb, nrm, " +
        s"[list_sum([CAST(emb[i] AS DOUBLE) * mm.m[j][i] " +
        s"for i in generate_series(1, $EmbDim)]) " +
        s"for j in generate_series(1, $RpK)] AS y FROM e " +
        s"CROSS JOIN (SELECT $mLit AS m) mm), " +
        s"b AS (SELECT vec_id, label, emb, nrm, ($bucketOverY) AS bucket " +
        "FROM yv), " +
        "p AS (SELECT a.vec_id AS src, a.label, b2.vec_id AS dst, " +
        s"${dotSql("a.emb", "b2.emb")} / (a.nrm * b2.nrm) AS cos " +
        "FROM b a JOIN b b2 ON a.bucket = b2.bucket " +
        "AND a.vec_id <> b2.vec_id), " +
        "ann AS (SELECT src, label, dst AS ann_id, cos AS ann_cos FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY src " +
        "ORDER BY cos DESC, dst ASC) AS rn FROM p) WHERE rn = 1), " +
        "px AS (SELECT a.vec_id AS src, b2.vec_id AS dst, " +
        s"${dotSql("a.emb", "b2.emb")} / (a.nrm * b2.nrm) AS cos " +
        "FROM e a JOIN e b2 ON a.vec_id <> b2.vec_id), " +
        "ex AS (SELECT src, dst AS top_id FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn " +
        "FROM px) WHERE rn = 1) " +
        "SELECT ann.label, count(*) AS n, " +
        "CAST(sum(CASE WHEN ann.ann_id = ex.top_id THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_match, " +
        "round(avg(ann.ann_cos), 5) AS avg_ann_cos " +
        "FROM ann JOIN ex ON ann.src = ex.src " +
        "GROUP BY ann.label ORDER BY ann.label"
    })

  /** Structural profile of the kNN similarity graph
    * ([[graft.ops.GraphRank.triangleStats]]): exact node/edge/wedge/
    * triangle counts and the global clustering coefficient — all
    * integer aggregates over the deterministic edge set, one division
    * at the end. */
  private val embedGraphStats = Q("q_embed_graphstats",
    (s, d) => {
      val g = Similarity.knnGraph(embs(s, d), "vec_id", "embedding", 3)
        .select("src", "dst")
      GraphRank.triangleStats(g, "src", "dst")
    }, {
      s"WITH e AS (SELECT vec_id, embedding AS emb, " +
        s"(${bucketSql(8)}) AS bucket, " +
        s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
        "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
        "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk FROM p), " +
        "g AS (SELECT src, dst FROM r WHERE rk <= 3), " +
        "und AS (SELECT DISTINCT least(src, dst) AS u, " +
        "greatest(src, dst) AS v FROM g WHERE src <> dst), " +
        "deg AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT u AS node FROM und UNION ALL SELECT v FROM und) " +
        "GROUP BY node), " +
        "ds AS (SELECT count(*) AS n_nodes, max(deg) AS max_deg, " +
        "CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges " +
        "FROM deg), " +
        "paths AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c " +
        "FROM und e1 JOIN und e2 ON e1.v = e2.u), " +
        "tri AS (SELECT count(*) AS n_triangles FROM paths " +
        "JOIN und e3 ON paths.a = e3.u AND paths.c = e3.v), " +
        "ec AS (SELECT count(*) AS n_edges FROM und) " +
        "SELECT ds.n_nodes, ec.n_edges, CAST(ds.max_deg AS BIGINT) " +
        "AS max_deg, ds.n_wedges, tri.n_triangles, " +
        "CASE WHEN ds.n_wedges > 0 THEN " +
        "round(CAST(3 * tri.n_triangles AS DOUBLE) / " +
        "CAST(ds.n_wedges AS DOUBLE), 5) ELSE 0.0 END AS clustering " +
        "FROM ds CROSS JOIN tri CROSS JOIN ec"
    })

  /** Seeded label propagation over the symmetrized kNN graph
    * ([[graft.ops.GraphRank.labelPropagate]]): 20% of vectors keep
    * their true label (vec_id % 5 = 0), three voting rounds spread
    * them to the rest. Votes are integer counts with a (max count,
    * min label) argmax, so every round — and the final per-node
    * prediction — replays exactly as CTE stages. */
  private val LpIters = 3
  private val embedLabelProp = Q("q_embed_labelprop",
    (s, d) => {
      val e0 = embs(s, d)
      val g0 = Similarity.knnGraph(e0, "vec_id", "embedding", 3)
        .select("src", "dst")
      val sym = g0.union(g0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
      val seeds = e0.where(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("node"), col("label"))
      val lp = GraphRank.labelPropagate(sym, "src", "dst",
        seeds, "node", "label", LpIters)
      lp.join(e0.select(col("vec_id").as("node"),
          col("label").as("tl")), "node")
        .groupBy(col("tl").as("label"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("is_seed"), 1L).otherwise(0L)).as("n_seed"),
          sum(when(lp("label").isNotNull, 1L).otherwise(0L)).as("n_pred"),
          sum(when(!col("is_seed") && lp("label") === col("tl"), 1L)
            .otherwise(0L)).as("n_correct"),
          sum(when(lp("label").isNotNull,
            col("node") * (lp("label") + 1)).otherwise(0L)).as("checksum"))
        .orderBy("label")
    }, {
      val sb = new StringBuilder(
        s"WITH e AS (SELECT vec_id, embedding AS emb, " +
          s"(${bucketSql(8)}) AS bucket, " +
          s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
          "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
          s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
          "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
          "r AS (SELECT src, dst, row_number() OVER " +
          "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk FROM p), " +
          "g AS (SELECT src, dst FROM r WHERE rk <= 3), " +
          "sym AS (SELECT src, dst FROM g " +
          "UNION SELECT dst AS src, src AS dst FROM g), " +
          "sd AS (SELECT vec_id AS node, label AS slabel " +
          "FROM embeddings WHERE vec_id % 5 = 0), " +
          "nodes AS (SELECT src AS node FROM sym " +
          "UNION SELECT dst FROM sym UNION SELECT node FROM sd), " +
          "l0 AS (SELECT n.node, sd.slabel AS label, " +
          "sd.slabel IS NOT NULL AS is_seed " +
          "FROM nodes n LEFT JOIN sd ON n.node = sd.node), ")
      for (i <- 1 to LpIters) {
        val p = s"l${i - 1}"
        sb ++= s"v$i AS (SELECT e2.dst, l.label, count(*) AS c " +
          s"FROM sym e2 JOIN $p l ON e2.src = l.node " +
          "WHERE l.label IS NOT NULL GROUP BY e2.dst, l.label), " +
          s"m$i AS (SELECT dst, max(c) AS mc FROM v$i GROUP BY dst), " +
          s"w$i AS (SELECT v.dst, min(v.label) AS vlabel FROM v$i v " +
          s"JOIN m$i m ON v.dst = m.dst AND v.c = m.mc GROUP BY v.dst), " +
          s"l$i AS (SELECT l.node, CASE WHEN l.is_seed THEN l.label " +
          "ELSE COALESCE(w.vlabel, l.label) END AS label, l.is_seed " +
          s"FROM $p l LEFT JOIN w$i w ON l.node = w.dst), "
      }
      sb ++= s"j AS (SELECT l.node, l.label AS pred, l.is_seed, " +
        s"em.label AS tl FROM l$LpIters l " +
        "JOIN embeddings em ON l.node = em.vec_id) " +
        "SELECT tl AS label, count(*) AS n_nodes, " +
        "CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_seed, " +
        "CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_pred, " +
        "CAST(sum(CASE WHEN NOT is_seed AND pred = tl THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_correct, " +
        "CAST(sum(CASE WHEN pred IS NOT NULL THEN node * (pred + 1) " +
        "ELSE 0 END) AS BIGINT) AS checksum " +
        "FROM j GROUP BY tl ORDER BY tl"
      sb.toString
    })

  private val embedAnnLsh = lshStatsQ("q_embed_ann_lsh", 8)
  /** Parameterized-nBits entry: the bucket space must be SIZED to the
    * corpus ([[Similarity.nBitsFor]]) — same operator at 12 bits. */
  private val embedLshSized = lshStatsQ("q_embed_lsh_sized", 12)

  /** Salted within-bucket ANN top-1: salt=4 spreads each bucket's work
    * over 4 tasks; the oracle proves the salted join is result-
    * identical to the plain within-bucket top-1. */
  private val embedAnnTop1 = Q("q_embed_ann_top1",
    (s, d) => {
      val top1 = Similarity.annTop1(embs(s, d), "vec_id", "embedding",
        nBits = 8, salt = 4)
      embs(s, d).select(col("vec_id").as("id_a"), col("label"))
        .join(top1, "id_a")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("ann_top1_cos")), 5).as("avg_ann_top1"))
        .orderBy("label")
    },
    s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"(${bucketSql(8)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "top1 AS (SELECT a.vec_id, a.label, " +
      s"max(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm)) AS t " +
      "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id " +
      "GROUP BY a.vec_id, a.label) " +
      "SELECT label, count(*) AS n, round(avg(t), 5) AS avg_ann_top1 " +
      "FROM top1 GROUP BY label ORDER BY label")

  private val embedNearDup = Q("q_dedup_embed",
    (s, d) => Similarity
      .cosineNearDups(embs(s, d), "vec_id", "embedding", 0.25, exact = false)
      .agg(count(lit(1)).as("n_dups"),
        round(avg(col("cos")), 5).as("avg_cos"),
        round(max(col("cos")), 5).as("max_cos")),
    s"WITH e AS (SELECT vec_id, embedding AS emb, (${bucketSql(8)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
      "SELECT count(*) AS n_dups, round(avg(cos), 5) AS avg_cos, " +
      "round(max(cos), 5) AS max_cos FROM p WHERE cos >= 0.25")

  /** Capped-bucket near-dup pass at a coarser bucket space (6 bits →
    * buckets big enough that the cap binds: 2 oversize buckets diverted
    * at sf0.01). Oversize buckets ARE duplicate clusters — handled as
    * groups, not pair-enumerated. */
  private val EmbedCapBits = 6
  private val EmbedCap = 30
  private val embedNearDupCapped = Q("q_dedup_embed_capped",
    (s, d) => {
      // one bucket lineage feeds both outputs
      val (dups, os) = Similarity.cosineNearDupsAndOversize(
        embs(s, d), "vec_id", "embedding", 0.25,
        nBits = EmbedCapBits, maxBucket = EmbedCap)
      dups.agg(count(lit(1)).as("n_dups"),
        round(avg(col("cos")), 5).as("avg_cos"))
        .crossJoin(os.agg(count(lit(1)).as("n_oversize"),
          sum(col("bn")).as("n_diverted")))
    },
    s"WITH e AS (SELECT vec_id, embedding AS emb, " +
      s"(${bucketSql(EmbedCapBits)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "bsz AS (SELECT bucket, count(*) AS bn FROM e GROUP BY bucket), " +
      "el AS (SELECT e.* FROM e JOIN bsz USING (bucket) " +
      s"WHERE bsz.bn <= $EmbedCap), " +
      "p AS (SELECT " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM el a JOIN el b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
      "agg AS (SELECT count(*) AS n_dups, round(avg(cos), 5) AS avg_cos " +
      "FROM p WHERE cos >= 0.25), " +
      s"os AS (SELECT count(*) AS n_oversize, CAST(sum(bn) AS BIGINT) " +
      s"AS n_diverted FROM bsz WHERE bn > $EmbedCap) " +
      "SELECT agg.*, os.* FROM agg CROSS JOIN os")

  /** Embedding-space benchmark contamination: flag corpus vectors
    * whose max cosine against ANY eval-set vector exceeds τ — the
    * semantic twin of n-gram decontamination (q_text_contamination),
    * catching paraphrased eval leakage that token overlap misses.
    * Eval membership is a deterministic id draw (vec_id ≡ 0 mod 101).
    * Scale shape: the eval set is MODEL-SIZED by definition (a
    * benchmark), so the scan is a broadcast nested-loop map over the
    * corpus — no shuffle of corpus vectors, partial max per corpus
    * row collapses before the label rollup. Flagged ids pinned by
    * checksum. */
  private val ContamTau = 0.35
  private val embedContamination = Q("q_embed_contamination",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("label"),
        col("embedding"),
        sqrt(Similarity.dot(col("embedding"), col("embedding")))
          .as("nrm"))
      val ev = e.where(pmod(col("vec_id"), lit(101L)) === 0)
        .select(col("embedding").as("eemb"), col("nrm").as("enrm"))
      val corpus = e.where(pmod(col("vec_id"), lit(101L)) =!= 0)
      corpus.crossJoin(broadcast(ev))
        .select(col("vec_id"), col("label"),
          (Similarity.dot(col("embedding"), col("eemb"))
            / (col("nrm") * col("enrm"))).as("cos"))
        .groupBy("vec_id", "label")
        .agg(max(col("cos")).as("mc"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_corpus"),
          sum(when(col("mc") >= ContamTau, 1L).otherwise(0L))
            .as("n_flagged"),
          round(avg(col("mc")), 5).as("avg_maxcos"),
          sum(when(col("mc") >= ContamTau, col("vec_id"))
            .otherwise(0L)).as("flagged_ids"))
        .orderBy("label")
    },
    "WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
      "FROM embeddings), " +
      "ev AS (SELECT emb, nrm FROM e WHERE vec_id % 101 = 0), " +
      "c AS (SELECT * FROM e WHERE vec_id % 101 <> 0), " +
      "m AS (SELECT c.vec_id, c.label, " +
      s"max(${dotSql("c.emb", "ev.emb")} / (c.nrm * ev.nrm)) AS mc " +
      "FROM c CROSS JOIN ev GROUP BY c.vec_id, c.label) " +
      "SELECT label, count(*) AS n_corpus, " +
      s"CAST(sum(CASE WHEN mc >= $ContamTau THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_flagged, " +
      "round(avg(mc), 5) AS avg_maxcos, " +
      s"CAST(sum(CASE WHEN mc >= $ContamTau THEN vec_id ELSE 0 END) " +
      "AS BIGINT) AS flagged_ids " +
      "FROM m GROUP BY label ORDER BY label")

  /** Int8 scalar quantization (SQ8): per-label code checksum (pins
    * every code exactly), reconstruction error, and decoded norm —
    * one map-only scan; the 4×-compression codec next to PQ's
    * codebook path. */
  private val embedSq8 = Q("q_embed_sq8",
    (s, d) => {
      val e = embs(s, d)
        .withColumn("code", Pq.sq8Encode(col("embedding")))
      e.select(col("label"),
          aggregate(col("code"), lit(0L), (a, v) => a + v).as("csum"),
          Pq.sq8Error(col("embedding"), col("code")).as("qerr"),
          sqrt(Similarity.dot(Pq.sq8Decode(col("code")),
            Pq.sq8Decode(col("code")))).as("dnorm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("csum")).as("code_sum"),
          round(avg(col("qerr")), 5).as("avg_qerr"),
          round(avg(col("dnorm")), 5).as("avg_dnorm"))
        .orderBy("label")
    }, {
      val enc = "[CAST(least(greatest(floor(CAST(embedding[i] AS DOUBLE) " +
        "* 127.0), -127.0), 127.0) AS BIGINT) " +
        s"for i in generate_series(1, $EmbDim)]"
      s"WITH q AS (SELECT label, embedding, $enc AS code FROM embeddings), " +
        "m AS (SELECT label, list_sum(code) AS csum, " +
        "list_sum([(CAST(embedding[i] AS DOUBLE) - " +
        "CAST(code[i] AS DOUBLE) / 127.0) * (CAST(embedding[i] AS DOUBLE) - " +
        "CAST(code[i] AS DOUBLE) / 127.0) " +
        s"for i in generate_series(1, $EmbDim)]) AS qerr, " +
        "sqrt(list_sum([(CAST(code[i] AS DOUBLE) / 127.0) * " +
        "(CAST(code[i] AS DOUBLE) / 127.0) " +
        s"for i in generate_series(1, $EmbDim)])) AS dnorm FROM q) " +
        "SELECT label, count(*) AS n, CAST(sum(csum) AS BIGINT) AS code_sum, " +
        "round(avg(qerr), 5) AS avg_qerr, round(avg(dnorm), 5) AS avg_dnorm " +
        "FROM m GROUP BY label ORDER BY label"
    })

  /** Label-conditional embedding outliers (corrupt / mislabeled /
    * out-of-distribution vectors — the pre-index anomaly filter):
    * per-label centroids from exact int64 fixed-point coordinate
    * registers (the k-means trick — identical under any partitioning
    * or engine), squared distance to the OWN-label centroid per row,
    * and a global mean+2σ threshold on d² derived from a second
    * exact register pass, broadcast back as a one-row frame. Three
    * scans, all map-side-partial aggregates, no driver round-trip. */
  private val embedOutliers = Q("q_embed_outliers",
    (s, d) => {
      val kfx = graft.ops.Pca.FxScale // 2^24, the k-means scale
      val sfx = graft.ops.Stats.FxScale.toDouble // 2^20, moment scale
      val e = embs(s, d)
      // per-label centroid registers (gramAgg slots 0..d: n, Σfx(x_i))
      val g = e.groupBy("label")
        .agg(graft.ops.Pca.gramAgg(col("embedding"), EmbDim).as("g"))
      val cn = element_at(col("g"), 1).cast("double")
      val mu = transform(sequence(lit(1), lit(EmbDim)),
        i => element_at(col("g"), i + 1).cast("double") / lit(kfx) / cn)
      val cents = g.select(col("label"), mu.as("mu"))
      val dist = e.join(cents, "label")
        .select(col("vec_id"), col("label"),
          (Similarity.dot(col("embedding"), col("embedding")) -
            lit(2.0) * Similarity.dot(col("embedding"), col("mu")) +
            Similarity.dot(col("mu"), col("mu"))).as("d2"))
      val reg = dist.agg(count(lit(1)).as("n"),
        sum(graft.ops.Stats.fx(col("d2"))).as("s1"),
        sum(graft.ops.Stats.fx(col("d2") * col("d2"))).as("s2"))
      val mean = (col("s1") / lit(sfx)) / col("n")
      val thr = reg.select(
        (mean + lit(2.0) *
          sqrt((col("s2") / lit(sfx)) / col("n") - mean * mean)).as("thr"))
      dist.crossJoin(broadcast(thr))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("d2") > col("thr"), 1L).otherwise(0L))
            .as("n_outliers"),
          sum(when(col("d2") > col("thr"), col("vec_id"))
            .otherwise(0L)).as("outlier_id_sum"),
          round(avg(col("d2")), 5).as("avg_d2"),
          round(min(col("thr")), 5).as("thr"))
        .orderBy("label")
    }, {
      val kfx = s"${graft.ops.Pca.FxScale.toLong}.0"
      val sfx = s"${graft.ops.Stats.FxScale}.0"
      s"WITH s0 AS (SELECT label, t.i, " +
        s"CAST(sum(CAST(round(CAST(embedding[t.i] AS DOUBLE) * $kfx) " +
        "AS BIGINT)) AS BIGINT) AS s, count(*) AS cn " +
        s"FROM embeddings CROSS JOIN range(1, ${EmbDim + 1}) t(i) " +
        "GROUP BY label, t.i), " +
        s"c AS (SELECT label, list(s / $kfx / cn ORDER BY i) AS mu " +
        "FROM s0 GROUP BY label), " +
        "dist AS (SELECT e.vec_id, e.label, " +
        s"${dotSql("e.embedding", "e.embedding")} - " +
        s"2.0 * ${dotSql("e.embedding", "c.mu")} + " +
        s"${dotSql("c.mu", "c.mu")} AS d2 " +
        "FROM embeddings e JOIN c ON e.label = c.label), " +
        "reg AS (SELECT count(*) AS n, " +
        s"CAST(sum(CAST(floor(d2 * $sfx) AS BIGINT)) AS BIGINT) AS s1, " +
        s"CAST(sum(CAST(floor(d2 * d2 * $sfx) AS BIGINT)) AS BIGINT) " +
        "AS s2 FROM dist), " +
        s"thr AS (SELECT ((s1 / $sfx) / n) + 2.0 * " +
        s"sqrt(((s2 / $sfx) / n) - ((s1 / $sfx) / n) * ((s1 / $sfx) / n)) " +
        "AS thr FROM reg) " +
        "SELECT label, count(*) AS n_vecs, " +
        "CAST(sum(CASE WHEN d2 > thr THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_outliers, " +
        "CAST(sum(CASE WHEN d2 > thr THEN vec_id ELSE 0 END) AS BIGINT) " +
        "AS outlier_id_sum, " +
        "round(avg(d2), 5) AS avg_d2, round(min(thr), 5) AS thr " +
        "FROM dist CROSS JOIN thr GROUP BY label ORDER BY label"
    })

  /** LSH recall-tuning harness: the pair-recall curve of OR-amplified
    * multi-table LSH (1, 2, 3 tables) against the exact near-dup
    * truth — how a pipeline TUNES nBits/tables before committing a
    * corpus-scale run (at 100 TB the truth side runs on a sample;
    * the harness shape is identical). Precision is structurally 1
    * (bucketed pairs pass the same cosine floor), so the curve is
    * recall vs tables — all counts exact integers, recall one
    * division. */
  private val LshEvalThr = 0.25
  private val embedLshRecall = Q("q_dedup_lsh_recall",
    (s, d) => {
      val e = embs(s, d)
      val nTrue = Similarity
        .cosineNearDups(e, "vec_id", "embedding", LshEvalThr)
        .agg(count(lit(1)).as("n_true"))
      // ONE bucket self-join scores every co-bucketed pair exactly
      // once (fused one-pass cosine kernel); n_found(t) = pairs whose
      // FIRST hitting table < t — derived from min(tbl) lineage, so
      // the t = 1, 2, 3 curve costs one pair-keyed hash agg and a
      // 1-row conditional sum instead of three join+distinct passes
      // that re-scored the same pairs.
      val tb = Similarity.lshTableBuckets(e, "embedding", 8, 3)
      val a = tb.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("tbl"), col("bucket"))
      val b = tb.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("tbl"), col("bucket"))
      val firstHit = a.join(b, Seq("tbl", "bucket"))
        .where(col("id_a") < col("id_b"))
        .where(Similarity.cosineOrNull(col("emb_a"), col("emb_b")) >=
          LshEvalThr)
        .groupBy("id_a", "id_b")
        .agg(min(col("tbl")).as("ft"))
      val found = firstHit.agg(
          coalesce(sum(when(col("ft") < 1, 1L)), lit(0L)).as("n1"),
          coalesce(sum(when(col("ft") < 2, 1L)), lit(0L)).as("n2"),
          count(lit(1)).as("n3"))
        .select(explode(array(
          struct(lit(1L).as("tables"), col("n1").as("n_found")),
          struct(lit(2L).as("tables"), col("n2").as("n_found")),
          struct(lit(3L).as("tables"), col("n3").as("n_found"))))
          .as("r"))
        .select(col("r.tables").as("tables"),
          col("r.n_found").as("n_found"))
      found.crossJoin(nTrue)
        .select(col("tables"), col("n_found"), col("n_true"),
          round(col("n_found").cast("double") /
            col("n_true").cast("double"), 5).as("recall"))
        .orderBy("tables")
    }, {
      import Similarity.{HpBitMix, HpDimMix, HpMod, HpMult}
      def bucketT(tbl: String): String = (0 until 8).map { j =>
        val hp = s"((((i) * $HpDimMix + (($tbl * 8 + ${j + 1})) * " +
          s"$HpBitMix) % $HpMod) * $HpMult % $HpMod) / " +
          s"${(HpMod / 2).toDouble} - 1.0"
        s"(CASE WHEN (list_sum([CAST(embedding[i] AS DOUBLE) * ($hp) " +
          s"for i in generate_series(1, len(embedding))])) > 0 " +
          s"THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val blocks = (1 to 3).map { t =>
        s"SELECT $t AS tables, (SELECT count(*) FROM (" +
          "SELECT DISTINCT a.vec_id, b.vec_id FROM tb a JOIN tb b " +
          "ON a.tbl = b.tbl AND a.bucket = b.bucket " +
          s"AND a.vec_id < b.vec_id AND a.tbl < $t AND " +
          s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) >= " +
          s"$LshEvalThr)) AS n_found"
      }.mkString(" UNION ALL ")
      s"WITH e AS (SELECT vec_id, embedding AS emb, embedding, " +
        s"sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
        "FROM embeddings), " +
        "tb AS (SELECT vec_id, emb, nrm, t.t AS tbl, " +
        s"(${bucketT("t.t")}) AS bucket FROM e CROSS JOIN " +
        "range(0, 3) t(t)), " +
        "nt AS (SELECT count(*) AS n_true FROM (SELECT 1 FROM e a " +
        "JOIN e b ON a.vec_id < b.vec_id AND " +
        s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) >= " +
        s"$LshEvalThr)), " +
        s"f AS ($blocks) " +
        "SELECT CAST(f.tables AS BIGINT) AS tables, f.n_found, " +
        "nt.n_true, round(f.n_found::DOUBLE / nt.n_true::DOUBLE, 5) " +
        "AS recall FROM f CROSS JOIN nt ORDER BY tables"
    })

  /** Embedding snapshot drift — the vector sibling of
    * [[pipelineDiff]]: per-(label, dim) centroid REGISTERS (int64
    * fixed point, the k-means/covariance discipline) for snapshot A
    * and a deterministically perturbed snapshot B computed in the
    * SAME single scan; register deltas are exact integers, so the
    * per-label L1/max drift and moved-dimension counts pin
    * bit-exactly. At scale this is the re-embedding regression check
    * (new encoder vs old): one scan per snapshot, matrix-sized
    * output, no vector ever joins another. */
  private val embedDrift = Q("q_embed_drift",
    (s, d) => {
      val kfx = graft.ops.Pca.FxScale
      val ex = embs(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i0", "x")))
        .select(col("vec_id"), col("label"),
          (col("i0") + 1).cast("long").as("dim"),
          col("x").cast("double").as("xa"))
      val shift = when(col("vec_id") % 2 === 1,
        lit(0.05) * (((col("vec_id") * 31 + col("dim")) % 7) - 3)
          .cast("double")).otherwise(lit(0.0))
      val regs = ex
        .select(col("label"), col("dim"), col("xa"),
          (col("xa") + shift).as("xb"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("cn"),
          sum(floor(col("xa") * lit(kfx)).cast("long")).as("sa"),
          sum(floor(col("xb") * lit(kfx)).cast("long")).as("sb"))
      regs.select(col("label"), col("cn"),
          abs(col("sa") - col("sb")).as("delta"))
        .groupBy("label")
        .agg(max(col("cn")).as("n_vecs"),
          sum(col("delta")).as("l1_fp"),
          max(col("delta")).as("max_fp"),
          sum(when(col("delta") > 0, 1L).otherwise(0L))
            .as("n_dims_moved"))
        .orderBy("label")
    }, {
      val kfx = s"${graft.ops.Pca.FxScale.toLong}.0"
      s"WITH ex AS (SELECT vec_id, label, t.i AS dim, " +
        "CAST(embedding[t.i] AS DOUBLE) AS xa " +
        s"FROM embeddings CROSS JOIN range(1, ${EmbDim + 1}) t(i)), " +
        "xs AS (SELECT label, dim, xa, xa + " +
        "(CASE WHEN vec_id % 2 = 1 THEN " +
        "0.05 * CAST(((vec_id * 31 + dim) % 7) - 3 AS DOUBLE) " +
        "ELSE 0.0 END) AS xb FROM ex), " +
        "regs AS (SELECT label, dim, count(*) AS cn, " +
        s"CAST(sum(CAST(floor(xa * $kfx) AS BIGINT)) AS BIGINT) AS sa, " +
        s"CAST(sum(CAST(floor(xb * $kfx) AS BIGINT)) AS BIGINT) AS sb " +
        "FROM xs GROUP BY label, dim) " +
        "SELECT label, CAST(max(cn) AS BIGINT) AS n_vecs, " +
        "CAST(sum(abs(sa - sb)) AS BIGINT) AS l1_fp, " +
        "CAST(max(abs(sa - sb)) AS BIGINT) AS max_fp, " +
        "CAST(sum(CASE WHEN abs(sa - sb) > 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dims_moved " +
        "FROM regs GROUP BY label ORDER BY label"
    })

  /** Hard-negative triplet mining (contrastive training data): per
    * label, triplet counts, mean positive/negative cosine, the margin,
    * and an id checksum pinning the exact argmax selections. Same
    * capped-bucket join as the near-dup queries; argmaxes are
    * max-then-min-id two-steps on both engines. */
  private val TripTau = 0.25
  private val TripBits = 6
  private val TripCap = 200
  private val embedTriplets = Q("q_embed_triplets",
    (s, d) => {
      val t = Similarity.hardNegativeTriplets(embs(s, d), "vec_id",
        "embedding", TripTau, nBits = TripBits, maxBucket = TripCap)
      embs(s, d).select(col("vec_id").as("anchor"), col("label"))
        .join(t, "anchor")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("pos_cos")), 5).as("avg_pos"),
          round(avg(col("neg_cos")), 5).as("avg_neg"),
          round(avg(col("pos_cos") - col("neg_cos")), 5).as("margin"),
          sum(col("pos_id") + col("neg_id")).as("id_sum"))
        .orderBy("label")
    },
    s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
      s"(${bucketSql(TripBits)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "bsz AS (SELECT bucket, count(*) AS bn FROM e GROUP BY bucket), " +
      s"el AS (SELECT e.* FROM e JOIN bsz USING (bucket) WHERE bn <= $TripCap), " +
      "p AS (SELECT a.vec_id AS anchor, b.vec_id AS cand, " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM el a JOIN el b ON a.bucket = b.bucket " +
      "AND a.vec_id <> b.vec_id), " +
      s"pm AS (SELECT anchor, max(cos) AS pos_cos FROM p WHERE cos >= $TripTau " +
      "GROUP BY anchor), " +
      "pos AS (SELECT p.anchor, pm.pos_cos, min(p.cand) AS pos_id FROM p " +
      "JOIN pm ON p.anchor = pm.anchor AND p.cos = pm.pos_cos " +
      "GROUP BY p.anchor, pm.pos_cos), " +
      s"nm AS (SELECT anchor, max(cos) AS neg_cos FROM p WHERE cos < $TripTau " +
      "GROUP BY anchor), " +
      "neg AS (SELECT p.anchor, nm.neg_cos, min(p.cand) AS neg_id FROM p " +
      "JOIN nm ON p.anchor = nm.anchor AND p.cos = nm.neg_cos " +
      "GROUP BY p.anchor, nm.neg_cos), " +
      "t AS (SELECT pos.anchor, pos_id, pos_cos, neg_id, neg_cos " +
      "FROM pos JOIN neg USING (anchor)) " +
      "SELECT e.label, count(*) AS n, round(avg(pos_cos), 5) AS avg_pos, " +
      "round(avg(neg_cos), 5) AS avg_neg, " +
      "round(avg(pos_cos - neg_cos), 5) AS margin, " +
      "CAST(sum(pos_id + neg_id) AS BIGINT) AS id_sum " +
      "FROM t JOIN e ON t.anchor = e.vec_id " +
      "GROUP BY e.label ORDER BY e.label")

  /** Semantic (embedding-space) cluster dedup: transitive closure of
    * capped cosine-threshold pairs plus member→min edges inside
    * oversize buckets, per-vector cluster labels bound via id_sum
    * against a DuckDB recursive-CTE closure of the identical edge
    * set. */
  private val embedClusters = Q("q_embed_clusters",
    (s, d) => {
      val cl = Similarity.embeddingClusters(embs(s, d), "vec_id",
        "embedding", 0.25, nBits = EmbedCapBits, maxBucket = EmbedCap)
      val csz = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      cl.agg(count(lit(1)).as("n_vecs"),
          sum(col("cluster_id")).as("id_sum"))
        .crossJoin(csz.agg(count(lit(1)).as("n_clusters"),
          max(col("sz")).as("max_cluster"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_redundant")))
    },
    "WITH RECURSIVE e AS (SELECT vec_id, embedding AS emb, " +
      s"(${bucketSql(EmbedCapBits)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "bsz AS (SELECT bucket, count(*) AS bn FROM e GROUP BY bucket), " +
      "el AS (SELECT e.* FROM e JOIN bsz USING (bucket) " +
      s"WHERE bsz.bn <= $EmbedCap), " +
      "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
      "FROM el a JOIN el b ON a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id " +
      s"WHERE ${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) >= 0.25), " +
      "ovm AS (SELECT e.bucket, min(e.vec_id) AS keep FROM e " +
      s"JOIN bsz USING (bucket) WHERE bsz.bn > $EmbedCap " +
      "GROUP BY e.bucket), " +
      "ge AS (SELECT e.vec_id AS id_a, ovm.keep AS id_b FROM e " +
      "JOIN ovm USING (bucket) WHERE e.vec_id <> ovm.keep), " +
      "edges AS (SELECT id_a, id_b FROM p " +
      "UNION SELECT id_a, id_b FROM ge), " +
      "sym AS (SELECT id_a AS u, id_b AS v FROM edges " +
      "UNION SELECT id_b AS u, id_a AS v FROM edges), " +
      "reach AS (SELECT vec_id AS node, vec_id AS r FROM embeddings " +
      "UNION SELECT sym.v AS node, reach.r FROM reach " +
      "JOIN sym ON sym.u = reach.node), " +
      "comp AS (SELECT node, min(r) AS cluster_id FROM reach " +
      "GROUP BY node), " +
      "csz AS (SELECT cluster_id, count(*) AS sz FROM comp " +
      "GROUP BY cluster_id) " +
      "SELECT (SELECT count(*) FROM comp) AS n_vecs, " +
      "(SELECT CAST(sum(cluster_id) AS BIGINT) FROM comp) AS id_sum, " +
      "(SELECT count(*) FROM csz) AS n_clusters, " +
      "(SELECT max(sz) FROM csz) AS max_cluster, " +
      "(SELECT CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) " +
      "AS BIGINT) FROM csz) AS n_redundant")

  private def l2Sql(a: String, b: String): String =
    s"list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
      s"for i in generate_series(1, len($a))])"

  /** One-pass exact covariance of the embedding space: the d(d+1)/2
    * fixed-point Gram sums come from a single mergeable aggregation
    * buffer ([[graft.ops.Pca.gramAgg]]); the oracle rebuilds the
    * identical integers, so every covariance entry is bit-exact before
    * its round(5). The d² pair fan-out below runs over the ONE result
    * row, never the data. Both engines add +0.0 after the round:
    * DuckDB's round preserves the sign of a tiny negative that rounds
    * to zero (−0.0) where Spark's returns +0.0 — IEEE −0.0 + 0.0 =
    * +0.0 normalizes the representations so the hashes agree. */
  private val embedCovariance = Q("q_embed_covariance",
    (s, d) => {
      val g = embs(s, d)
        .agg(graft.ops.Pca.gramAgg(col("embedding"), EmbDim).as("g"))
      val ij = g
        .select(col("g"), explode(sequence(lit(0), lit(EmbDim - 1))).as("i"))
        .select(col("g"), col("i"),
          explode(sequence(col("i"), lit(EmbDim - 1))).as("j"))
      val n = element_at(col("g"), 1).cast("double")
      val fx = lit(graft.ops.Pca.FxScale)
      val si = element_at(col("g"), col("i") + 2).cast("double") / fx
      val sj = element_at(col("g"), col("j") + 2).cast("double") / fx
      val t = col("i") * lit(EmbDim) - col("i") * (col("i") - 1) / 2 +
        (col("j") - col("i"))
      val sp = element_at(col("g"),
        (t + lit(EmbDim + 2)).cast("int")).cast("double") / fx
      ij.select((col("i") + 1).cast("long").as("i"),
          (col("j") + 1).cast("long").as("j"),
          (round(sp / n - (si / n) * (sj / n), 5) + lit(0.0)).as("cov"))
        .orderBy("i", "j")
    },
    "WITH x AS (SELECT embedding AS e FROM embeddings), " +
      "s AS (SELECT i, CAST(sum(CAST(round(CAST(e[i] AS DOUBLE) * " +
      "16777216.0) AS BIGINT)) AS BIGINT) AS si, count(*) AS n FROM x, " +
      s"generate_series(1, $EmbDim) AS g(i) GROUP BY i), " +
      "p AS (SELECT i, j, CAST(sum(CAST(round(CAST(e[i] AS DOUBLE) * " +
      "CAST(e[j] AS DOUBLE) * 16777216.0) AS BIGINT)) AS BIGINT) AS sp " +
      s"FROM x, generate_series(1, $EmbDim) AS g(i), " +
      s"generate_series(1, $EmbDim) AS h(j) WHERE i <= j GROUP BY i, j) " +
      "SELECT p.i, p.j, round((sp / 16777216.0) / sa.n - " +
      "((sa.si / 16777216.0) / sa.n) * ((sb.si / 16777216.0) / sa.n), 5) " +
      "+ 0.0 AS cov " +
      "FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i " +
      "ORDER BY p.i, p.j")

  /** Random Fourier feature kernel estimates over the embedding table
    * ([[graft.gp.Rff]]): k̂(x, q) = φ(x)·φ(q) for a fixed query point,
    * averaged per label. The D×d frequency matrix, phases, and φ(q)
    * are DRIVER-computed plan constants inlined as literals on BOTH
    * engines (the k-means-centroid pattern); each k̂ term is a
    * forward-order dot → cos → scaled product, summed j-ascending, so
    * the doubles agree bit-for-bit modulo libm cos. √(2/8) = 0.5 is
    * exact in binary. */
  private val RffD = 8
  private val RffEll = 4.0
  private val RffSeed = 21L
  private val RffQ: Seq[Double] = Seq.tabulate(EmbDim)(k => 0.25 * (k % 5 - 2.0))
  private val gpRff = Q("q_gp_rff",
    (s, d) => {
      val (w, b) = graft.gp.Rff.frequencies(EmbDim, RffD,
        breeze.linalg.DenseVector(RffEll), RffSeed)
      embs(s, d)
        .select(col("label"),
          graft.gp.Rff.khatCol(col("embedding"), RffQ, w, b).as("khat"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg(col("khat")), 5).as("avg_khat"))
        .orderBy("label")
    }, {
      val (w, b) = graft.gp.Rff.frequencies(EmbDim, RffD,
        breeze.linalg.DenseVector(RffEll), RffSeed)
      val phiQ = graft.gp.Rff.featureVector(RffQ, w, b)
      val scale = math.sqrt(2.0 / RffD)
      val terms = (0 until RffD).map { j =>
        val wj = (0 until EmbDim).map(k => w(j, k).toString)
          .mkString("[", ", ", "]")
        s"(($scale * cos(list_sum([($wj)[i] * " +
          "CAST(e.embedding[i] AS DOUBLE) " +
          s"for i in generate_series(1, $EmbDim)]) + ${b(j)})) * (${phiQ(j)}))"
      }.mkString(" + ")
      s"WITH ph AS (SELECT label, ($terms) AS khat FROM embeddings e) " +
        "SELECT label, count(*) AS n, round(avg(khat), 5) AS avg_khat " +
        "FROM ph GROUP BY label ORDER BY label"
    })

  private val embedIvf = Q("q_embed_ivf",
    (s, d) => {
      val e = embs(s, d)
      // fused IVF pipeline: ONE centroid collect, ONE cell-assignment
      // plan reused by both the bucket stats and the top-1 probe (the
      // former 3×collect/3×scan composition was pure overhead)
      val cents = Similarity.collectCentroids(
        e.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
      // no persist: the query closure cannot unpersist after its
      // caller's action, and with the native l2sq kernel recomputing
      // the assignment is cheaper than leaking a cache entry per call
      val cells = Similarity.cellAssignments(e, "vec_id", "embedding", cents)
      val top1 = Similarity.ivfTop1From(cells, "vec_id", "embedding")
      val cellStats = cells.groupBy("cell").agg(count(lit(1)).as("cn"))
        .agg(count(lit(1)).as("n_cells"), max(col("cn")).as("max_cell"))
      cellStats.crossJoin(top1.agg(count(lit(1)).as("n_hit"),
        round(avg(col("ivf_top1_cos")), 5).as("avg_ivf_top1")))
    },
    "WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings " +
      "ORDER BY vec_id LIMIT 16), " +
      "d AS (SELECT e.vec_id, e.embedding, c.cid, " +
      s"${l2Sql("e.embedding", "c.cemb")} AS dist " +
      "FROM embeddings e CROSS JOIN c), " +
      "md AS (SELECT vec_id, min(dist) AS md FROM d GROUP BY vec_id), " +
      "cell AS (SELECT d.vec_id, min(d.cid) AS cell FROM d " +
      "JOIN md ON d.vec_id = md.vec_id AND d.dist = md.md GROUP BY d.vec_id), " +
      "e2 AS (SELECT e.vec_id, e.embedding AS emb, cell.cell, " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm " +
      "FROM embeddings e JOIN cell ON e.vec_id = cell.vec_id), " +
      "top1 AS (SELECT a.vec_id, " +
      s"max(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm)) AS t " +
      "FROM e2 a JOIN e2 b ON a.cell = b.cell AND a.vec_id <> b.vec_id " +
      "GROUP BY a.vec_id), " +
      "cs AS (SELECT count(*) AS n_cells, max(cn) AS max_cell FROM " +
      "(SELECT cell, count(*) AS cn FROM cell GROUP BY cell)) " +
      "SELECT cs.n_cells, cs.max_cell, ts.n_hit, ts.avg_ivf_top1 FROM cs " +
      "CROSS JOIN (SELECT count(*) AS n_hit, round(avg(t), 5) AS " +
      "avg_ivf_top1 FROM top1) ts")

  /** Multi-probe IVF (probes = 2): each query searches its TWO nearest
    * cells — the standard recall knob — against the corpus indexed in
    * its own cell. Probe order is (dist, cid)-lexicographic on both
    * engines (array_sort on structs == ORDER BY dist, cid). */
  private val embedIvfMp = Q("q_embed_ivf_mp",
    (s, d) => {
      val e = embs(s, d)
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      Similarity.ivfTop1(e, "vec_id", "embedding", cents, probes = 2)
        .agg(count(lit(1)).as("n_hit"),
          round(avg(col("ivf_top1_cos")), 5).as("avg_mp_top1"))
    },
    "WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings " +
      "ORDER BY vec_id LIMIT 16), " +
      "dd AS (SELECT e.vec_id, c.cid, " +
      s"${l2Sql("e.embedding", "c.cemb")} AS dist " +
      "FROM embeddings e CROSS JOIN c), " +
      "md AS (SELECT vec_id, min(dist) AS md FROM dd GROUP BY vec_id), " +
      "cell AS (SELECT dd.vec_id, min(dd.cid) AS cell FROM dd " +
      "JOIN md ON dd.vec_id = md.vec_id AND dd.dist = md.md " +
      "GROUP BY dd.vec_id), " +
      "pr AS (SELECT vec_id, cid AS cell FROM " +
      "(SELECT vec_id, cid, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM dd) " +
      "WHERE rn <= 2), " +
      "e2 AS (SELECT e.vec_id, e.embedding AS emb, cell.cell, " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm " +
      "FROM embeddings e JOIN cell ON e.vec_id = cell.vec_id), " +
      "a2 AS (SELECT e.vec_id, e.embedding AS emb, pr.cell, " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm " +
      "FROM embeddings e JOIN pr ON e.vec_id = pr.vec_id), " +
      "top1 AS (SELECT a.vec_id, " +
      s"max(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm)) AS t " +
      "FROM a2 a JOIN e2 b ON a.cell = b.cell AND a.vec_id <> b.vec_id " +
      "GROUP BY a.vec_id) " +
      "SELECT count(*) AS n_hit, round(avg(t), 5) AS avg_mp_top1 FROM top1")

  /** One Lloyd's round of coarse-quantizer TRAINING, then assignment
    * stats: assign(c0) → fixed-point centroid update → assign(c1) →
    * (n_cells, avg inertia). The 2²⁴ fixed-point sums make the updated
    * centroids bit-identical across engines and partitionings (int64
    * sums are exact), so the second assignment — and therefore the
    * whole query — hash-matches a serial DuckDB replay. */
  /** k-center greedy coreset (Sener & Savarese 2018): farthest-first
    * exemplar selection with original ids, plus the cover each
    * exemplar induces (member counts, max/avg d² = the k-center
    * radius). The oracle unrolls the k selection rounds as CTE stages
    * (the BPE pattern for iterative algorithms): identical forward-
    * order distances ⇒ identical argmax per round ⇒ the exact
    * selected set and assignment pin cross-engine. */
  private val CoresetK = 4
  private val embedCoreset = Q("q_embed_coreset",
    (s, d) => {
      val e = embs(s, d)
      val sel = Similarity.farthestFirst(e, "vec_id", "embedding", CoresetK)
      val cents = sel.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      val selIds = typedLit(sel.map(_._1).toSeq)
      Similarity.cellAssignmentsWithDist(e, "vec_id", "embedding", cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          round(max(col("dist")), 5).as("max_d2"),
          round(avg(col("dist")), 5).as("avg_d2"))
        .withColumn("sel_id",
          element_at(selIds, col("cell").cast("int") + 1))
        .select("cell", "sel_id", "n_members", "max_d2", "avg_d2")
        .orderBy("cell")
    }, {
      val sb = new StringBuilder(
        "WITH e AS (SELECT vec_id, embedding AS emb FROM embeddings), " +
          "s0 AS (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1), " +
          s"a0 AS (SELECT e.vec_id, e.emb, ${l2Sql("e.emb", "s0.emb")} " +
          "AS d, 0 AS c FROM e CROSS JOIN s0), ")
      for (i <- 1 until CoresetK) {
        val p = s"a${i - 1}"
        sb ++= s"s$i AS (SELECT vec_id, emb FROM $p " +
          "ORDER BY d DESC, vec_id LIMIT 1), "
        val di = l2Sql(s"$p.emb", s"s$i.emb")
        sb ++= s"a$i AS (SELECT $p.vec_id, $p.emb, " +
          s"CASE WHEN $di < $p.d THEN $di ELSE $p.d END AS d, " +
          s"CASE WHEN $di < $p.d THEN $i ELSE $p.c END AS c " +
          s"FROM $p CROSS JOIN s$i), "
      }
      sb ++= (0 until CoresetK)
        .map(i => s"SELECT $i AS cell, vec_id FROM s$i")
        .mkString("sel AS (", " UNION ALL ", ") ")
      sb ++= "SELECT CAST(sel.cell AS BIGINT) AS cell, " +
        "sel.vec_id AS sel_id, count(*) AS n_members, " +
        s"round(max(f.d), 5) AS max_d2, round(avg(f.d), 5) AS avg_d2 " +
        s"FROM a${CoresetK - 1} f JOIN sel ON f.c = sel.cell " +
        "GROUP BY sel.cell, sel.vec_id ORDER BY cell"
      sb.toString
    })

  /** Shared oracle CTE chain for the deterministic 1-round Lloyd
    * training: c0 (first-16 init) → a0 (assign) → fixed-point centroid
    * update → c1 → d1/m1/a1 (post-round assignment + distance).
    * Reused by q_embed_kmeans AND q_dedup_semantic, so the replayed
    * centroids can never diverge between the two oracles. */
  private def kmeans1RoundSql: String =
    "c0 AS (SELECT vec_id AS cid, embedding AS cemb " +
      "FROM embeddings ORDER BY vec_id LIMIT 16), " + kmeansTailSql

  /** The 1-round-Lloyd chain with the cell count computed FROM THE
    * CORPUS in-SQL: k = clamp(ceil(n / targetPop), 1, maxCells) — the
    * exact integer formula of [[Similarity.nCellsFor]] (`//` is
    * DuckDB integer division == Spark `div` on these non-negative
    * operands), so Spark's runtime-counted k and the oracle's k can
    * never diverge. Init stays "first k by vec_id" (row_number ≤ k ==
    * ORDER BY vec_id LIMIT k). */
  private def kmeansSizedKSql(targetPop: Int, maxCells: Int): String =
    s"kk AS (SELECT least(greatest((count(*) + ${targetPop - 1}) " +
      s"// $targetPop, 1), $maxCells) AS k FROM embeddings), " +
      "c0 AS (SELECT rr.vec_id AS cid, rr.embedding AS cemb FROM " +
      "(SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) " +
      "AS rn FROM embeddings) rr CROSS JOIN kk WHERE rr.rn <= kk.k), " +
      kmeansTailSql

  private def kmeansTailSql: String = {
    val fx = "16777216.0"
    "d0 AS (SELECT e.vec_id, c.cid, " +
      s"${l2Sql("e.embedding", "c.cemb")} AS dist " +
      "FROM embeddings e CROSS JOIN c0 c), " +
      "m0 AS (SELECT vec_id, min(dist) AS md FROM d0 GROUP BY vec_id), " +
      "a0 AS (SELECT d0.vec_id, min(d0.cid) AS cell FROM d0 " +
      "JOIN m0 ON d0.vec_id = m0.vec_id AND d0.dist = m0.md " +
      "GROUP BY d0.vec_id), " +
      "n0 AS (SELECT cell, count(*) AS n FROM a0 GROUP BY cell), " +
      "s0 AS (SELECT a0.cell, t.i, " +
      s"sum(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * $fx) " +
      "AS BIGINT)) AS s " +
      "FROM a0 JOIN embeddings e ON a0.vec_id = e.vec_id " +
      "CROSS JOIN range(1, 65) t(i) GROUP BY a0.cell, t.i), " +
      s"c1 AS (SELECT s0.cell AS cid, list(s0.s / $fx / n0.n " +
      "ORDER BY s0.i) AS cemb FROM s0 JOIN n0 ON s0.cell = n0.cell " +
      "GROUP BY s0.cell, n0.n), " +
      "d1 AS (SELECT e.vec_id, c.cid, " +
      s"${l2Sql("e.embedding", "c.cemb")} AS dist " +
      "FROM embeddings e CROSS JOIN c1 c), " +
      "m1 AS (SELECT vec_id, min(dist) AS md FROM d1 GROUP BY vec_id), " +
      "a1 AS (SELECT d1.vec_id, min(d1.cid) AS cell FROM d1 " +
      "JOIN m1 ON d1.vec_id = m1.vec_id AND d1.dist = m1.md " +
      "GROUP BY d1.vec_id)"
  }

  private val embedKmeans = Q("q_embed_kmeans",
    (s, d) => {
      val e = embs(s, d)
      val c0 = Similarity.collectCentroids(
        e.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
      val c1 = Similarity.kmeansIterate(e, "vec_id", "embedding", c0, 1)
      Similarity.cellAssignmentsWithDist(e, "vec_id", "embedding", c1)
        .agg(countDistinct(col("cell")).as("n_cells"),
          round(avg(col("dist")), 5).as("avg_inertia"))
    },
    s"WITH $kmeans1RoundSql " +
      "SELECT (SELECT count(DISTINCT cell) FROM a1) AS n_cells, " +
      "(SELECT round(avg(md), 5) FROM m1) AS avg_inertia")

  /** SemDeDup (Abbas et al. 2023): semantic dedup scoped to TRAINED
    * k-means clusters — assign every vector to its 1-round-Lloyd cell,
    * enumerate pairs only WITHIN a cell, and drop the higher id of any
    * pair with cosine ≥ τ (keep-first). The removed-id checksum pins
    * the exact pruned set cross-engine. Scale posture IN CODE, not
    * prose: (1) k is sized from the corpus at runtime —
    * [[Similarity.nCellsFor]](n, [[SemCellPop]]) — so cell population
    * (the quadratic term) stays ~constant as the corpus grows, the
    * SemDeDup recipe itself (they run 100k clusters on LAION); the
    * oracle computes the identical k in-SQL ([[kmeansSizedKSql]]).
    * (2) A degenerate cell past [[SemCellCap]] (8× target pop) is
    * DIVERTED from pair enumeration by
    * [[Similarity.semDeDupRemoved]] — the q_dedup_embed_capped guard
    * on the k-means cell key — and flagged in the `diverted` column
    * so a caller routes it to group-collapse. Boundary pinned in
    * SemDeDupSpec (cell at cap enumerates, cap+1 diverts). */
  private val SemTau = 0.35
  private val SemCellPop = 32  // target cell population: k = ceil(n/32)
  private val SemCellCap = 8 * SemCellPop
  private val SemMaxCells = 65536
  private val dedupSemantic = Q("q_dedup_semantic",
    (s, d) => {
      val e = embs(s, d)
      val k = Similarity.nCellsFor(e.count(), SemCellPop, SemMaxCells)
      val c0 = Similarity.collectCentroids(
        e.orderBy("vec_id").limit(k)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
      val c1 = Similarity.kmeansIterate(e, "vec_id", "embedding", c0, 1)
      val cells = Similarity.cellAssignments(e, "vec_id", "embedding", c1)
      val (removedIds, _) = Similarity.semDeDupRemoved(
        cells, "vec_id", "embedding", SemTau, SemCellCap)
      val stats = removedIds.groupBy("cell")
        .agg(count(lit(1)).as("n_removed"),
          sum(col("vec_id") % lit(DigestMod)).as("removed_sum"))
      cells.groupBy("cell").agg(count(lit(1)).as("n_members"))
        .join(stats, Seq("cell"), "left")
        .select(col("cell"), col("n_members"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("removed_sum"), lit(0L)).as("removed_sum"),
          (col("n_members") > SemCellCap).as("diverted"))
        .orderBy("cell")
    },
    s"WITH ${kmeansSizedKSql(SemCellPop, SemMaxCells)}, " +
      "ec AS (SELECT a1.cell, e.vec_id, e.embedding AS emb, " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm " +
      "FROM embeddings e JOIN a1 ON e.vec_id = a1.vec_id), " +
      "cs AS (SELECT cell, count(*) AS cn FROM ec GROUP BY cell), " +
      "el AS (SELECT ec.* FROM ec JOIN cs USING (cell) " +
      s"WHERE cs.cn <= $SemCellCap), " +
      "rm AS (SELECT DISTINCT a.cell, b.vec_id AS ib " +
      "FROM el a JOIN el b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      s"WHERE ${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) >= $SemTau), " +
      "st AS (SELECT cell, count(*) AS n_removed, " +
      s"CAST(sum(ib % $DigestMod) AS BIGINT) AS removed_sum " +
      "FROM rm GROUP BY cell) " +
      "SELECT ec.cell, count(*) AS n_members, " +
      "coalesce(max(st.n_removed), 0) AS n_removed, " +
      "coalesce(max(st.removed_sum), 0) AS removed_sum, " +
      s"(count(*) > $SemCellCap) AS diverted " +
      "FROM ec LEFT JOIN st ON ec.cell = st.cell " +
      "GROUP BY ec.cell ORDER BY ec.cell")

  /** Squared L2 over a 1-based index RANGE (the PQ subspace form of
    * [[l2Sql]]). */
  private def l2SqlRange(a: String, b: String, lo: Int, hi: Int): String =
    s"list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
      s"for i in generate_series($lo, $hi)])"

  /** Product quantization end-to-end: deterministic codebooks (the
    * first 8 vectors' slices, positions in id order), one-scan native
    * encode, quantization error, and ADC top-1 over the coded corpus.
    * `sum_codes` pins the code assignment bit-for-bit; the avg
    * distances pin the ADC arithmetic (per-subspace forward-order
    * sums, subtotals added in subspace order on both engines). */
  private val PqM = 4
  private val PqKsub = 8
  private val PqW = 16 // 64-dim embeddings / 4 subspaces
  private val embedPq = Q("q_embed_pq",
    (s, d) => {
      val e = embs(s, d)
      val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", PqM, PqKsub)
      val coded = Pq.encode(e, "vec_id", "embedding", cb)
      val codeSum = aggregate(col("code"), lit(0L), (a, v) => a + v)
      val enc = coded.agg(count(lit(1)).as("n"),
        sum(codeSum).as("sum_codes"),
        round(avg(Pq.quantizationError(col("embedding"), col("code"), cb)),
          5).as("avg_qerr"))
      val adc = Pq.adcTop1(coded, e, "vec_id", "embedding", cb)
        .agg(round(avg(col("adc_top1_dist")), 5).as("avg_adc"))
      enc.crossJoin(adc)
    }, {
      def sub(m: Int) = (m * PqW + 1, (m + 1) * PqW)
      val subs = (0 until PqM).map(sub)
      // per-subspace encode: argmin over the 8 sub-centroids,
      // (dist, cid)-lexicographic tie-break — same as the kernel
      val encCtes = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"d$m AS (SELECT e.vec_id, c.cid, " +
          s"${l2SqlRange("e.embedding", "c.cemb", lo, hi)} AS dist " +
          "FROM embeddings e CROSS JOIN cb c), " +
          s"a$m AS (SELECT d$m.vec_id, min(d$m.cid) AS c$m FROM d$m " +
          s"JOIN (SELECT vec_id, min(dist) AS md FROM d$m GROUP BY vec_id) m$m " +
          s"ON d$m.vec_id = m$m.vec_id AND d$m.dist = m$m.md " +
          s"GROUP BY d$m.vec_id)"
      }.mkString(", ")
      val codeJoin = (1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
        .mkString(" ")
      val cbJoins = (0 until PqM).map(m =>
        s"JOIN cb b$m ON b$m.cid = codes.c$m").mkString(" ")
      val qerrSum = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"(${l2SqlRange("e.embedding", s"b$m.cemb", lo, hi)})"
      }.mkString(" + ")
      val adcSum = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"(${l2SqlRange("q.embedding", s"b$m.cemb", lo, hi)})"
      }.mkString(" + ")
      val codeCols = (0 until PqM).map(m => s"c$m").mkString(" + ")
      "WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
        "embedding AS cemb FROM (SELECT vec_id, embedding FROM embeddings " +
        s"ORDER BY vec_id LIMIT $PqKsub)), " +
        s"$encCtes, " +
        s"codes AS (SELECT a0.vec_id, ${(0 until PqM).map(m => s"c$m").mkString(", ")} " +
        s"FROM a0 $codeJoin), " +
        s"qerr AS (SELECT codes.vec_id, ($qerrSum) AS qe FROM codes " +
        s"JOIN embeddings e ON codes.vec_id = e.vec_id $cbJoins), " +
        s"adc AS (SELECT q.vec_id, min($adcSum) AS t " +
        "FROM embeddings q JOIN codes ON codes.vec_id <> q.vec_id " +
        s"$cbJoins GROUP BY q.vec_id) " +
        "SELECT (SELECT count(*) FROM codes) AS n, " +
        s"(SELECT CAST(sum($codeCols) AS BIGINT) FROM codes) AS sum_codes, " +
        "(SELECT round(avg(qe), 5) FROM qerr) AS avg_qerr, " +
        "(SELECT round(avg(t), 5) FROM adc) AS avg_adc"
    })

  /** IVF-PQ composition — the production index layout: corpus stored
    * as (coarse cell, PQ code), query scores only its own cell's codes
    * via ADC. Coarse quantizer = the 16-centroid IVF pick; fine
    * quantizer = the 8-centroid-per-subspace PQ codebooks. */
  private val embedIvfPq = Q("q_embed_ivfpq",
    (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.collectCentroids(
        e.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
      val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", PqM, PqKsub)
      val cells = Similarity.cellAssignments(e, "vec_id", "embedding", cents)
      Pq.ivfAdcTop1(cells, "vec_id", "embedding", cb)
        .agg(count(lit(1)).as("n_hit"),
          round(avg(col("adc_top1_dist")), 5).as("avg_ivfpq"))
    }, {
      def sub(m: Int) = (m * PqW + 1, (m + 1) * PqW)
      val subs = (0 until PqM).map(sub)
      val encCtes = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"d$m AS (SELECT e.vec_id, c.cid, " +
          s"${l2SqlRange("e.embedding", "c.cemb", lo, hi)} AS dist " +
          "FROM embeddings e CROSS JOIN cb c), " +
          s"a$m AS (SELECT d$m.vec_id, min(d$m.cid) AS c$m FROM d$m " +
          s"JOIN (SELECT vec_id, min(dist) AS md FROM d$m GROUP BY vec_id) m$m " +
          s"ON d$m.vec_id = m$m.vec_id AND d$m.dist = m$m.md " +
          s"GROUP BY d$m.vec_id)"
      }.mkString(", ")
      val codeJoin = (1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
        .mkString(" ")
      val cbJoins = (0 until PqM).map(m =>
        s"JOIN cb b$m ON b$m.cid = codes.c$m").mkString(" ")
      val adcSum = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"(${l2SqlRange("q.embedding", s"b$m.cemb", lo, hi)})"
      }.mkString(" + ")
      // coarse cells: same CTE shape as q_embed_ivf
      "WITH cc AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings " +
        "ORDER BY vec_id LIMIT 16), " +
        "dc AS (SELECT e.vec_id, c.cid, " +
        s"${l2Sql("e.embedding", "c.cemb")} AS dist " +
        "FROM embeddings e CROSS JOIN cc c), " +
        "mc AS (SELECT vec_id, min(dist) AS md FROM dc GROUP BY vec_id), " +
        "cell AS (SELECT dc.vec_id, min(dc.cid) AS cell FROM dc " +
        "JOIN mc ON dc.vec_id = mc.vec_id AND dc.dist = mc.md " +
        "GROUP BY dc.vec_id), " +
        "cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
        "embedding AS cemb FROM (SELECT vec_id, embedding FROM embeddings " +
        s"ORDER BY vec_id LIMIT $PqKsub)), " +
        s"$encCtes, " +
        s"codes AS (SELECT a0.vec_id, ${(0 until PqM).map(m => s"c$m").mkString(", ")} " +
        s"FROM a0 $codeJoin), " +
        "cc2 AS (SELECT codes.*, cell.cell FROM codes " +
        "JOIN cell ON codes.vec_id = cell.vec_id), " +
        "qq AS (SELECT e.vec_id, e.embedding, cell.cell FROM embeddings e " +
        "JOIN cell ON e.vec_id = cell.vec_id), " +
        s"adc AS (SELECT q.vec_id, min($adcSum) AS t " +
        "FROM qq q JOIN cc2 codes ON q.cell = codes.cell " +
        "AND codes.vec_id <> q.vec_id " +
        s"$cbJoins GROUP BY q.vec_id) " +
        "SELECT count(*) AS n_hit, round(avg(t), 5) AS avg_ivfpq FROM adc"
    })

  /** Incremental-ingest dedup: the batch (doc_id ≡ 0 mod 4) anti-joined
    * on full MinHash signature against the corpus (the rest) — counts
    * of batch docs (with tokens), genuinely new docs, and distinct new
    * signatures. */
  private val dedupIncremental = Q("q_dedup_incremental",
    (s, d) => {
      val d0 = docs(s, d)
      val batch = d0.where(col("doc_id") % 4 === 0)
      val corpus = d0.where(col("doc_id") % 4 =!= 0)
      val sigCols = (0 until Dedup.NumPerms).map(i => s"sig$i")
      val surv = Dedup.newAgainstCorpus(batch, corpus, "text", "doc_id")
      val nBatch = Dedup.minhashSignatures(batch, "text", "doc_id")
        .agg(count(lit(1)).as("n_batch"))
      val nNew = surv.agg(count(lit(1)).as("n_new"))
      val nGroups = surv.select(sigCols.map(col): _*).distinct()
        .agg(count(lit(1)).as("n_new_groups"))
      nBatch.crossJoin(nNew).crossJoin(nGroups)
    }, {
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      s"WITH $tokSql, " +
        s"sigs AS (SELECT doc_id, $sigSql FROM h GROUP BY doc_id), " +
        "bs AS (SELECT * FROM sigs WHERE doc_id % 4 = 0), " +
        s"cs AS (SELECT DISTINCT $sigList FROM sigs WHERE doc_id % 4 <> 0), " +
        s"surv AS (SELECT bs.* FROM bs ANTI JOIN cs USING ($sigList)) " +
        "SELECT (SELECT count(*) FROM bs) AS n_batch, " +
        "(SELECT count(*) FROM surv) AS n_new, " +
        "(SELECT count(*) FROM " +
        s"(SELECT DISTINCT $sigList FROM surv)) AS n_new_groups"
    })

  /** Incremental NEAR-dup detection (the approximate sibling of
    * [[dedupIncremental]]): batch docs colliding with archive band
    * buckets, best signature-agreement estimate per batch doc, and
    * template-family hits flagged oversize instead of pairwise-
    * scored. Same split, same cap as the self-join queries. */
  private val dedupIncrementalNear = Q("q_dedup_incremental_near",
    (s, d) => {
      val d0 = docs(s, d)
      val batch = d0.where(col("doc_id") % 4 === 0)
      val corpus = d0.where(col("doc_id") % 4 =!= 0)
      Dedup.newNearDupsAgainstCorpus(batch, corpus, "text", "doc_id",
          maxBucket = MinhashCap)
        .agg(count(lit(1)).as("n_colliding"),
          sum(when(col("best_est") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
          sum(when(col("oversize_hit"), 1L).otherwise(0L)).as("n_oversize"),
          sum(col("doc_id")).as("id_sum"),
          round(avg(col("best_est")), 5).as("avg_best_est"))
    },
    s"WITH $minhashCtes, " +
      "bb AS (SELECT * FROM bands WHERE doc_id % 4 = 0), " +
      "cb AS (SELECT * FROM bands WHERE doc_id % 4 <> 0), " +
      "csz AS (SELECT band, band_key, count(*) AS bn FROM cb " +
      "GROUP BY 1, 2), " +
      "elig AS (SELECT cb.* FROM cb JOIN csz USING (band, band_key) " +
      s"WHERE csz.bn <= $MinhashCap), " +
      "hits AS (SELECT DISTINCT x.doc_id AS bid, y.doc_id AS cid " +
      "FROM bb x JOIN elig y ON x.band = y.band " +
      "AND x.band_key = y.band_key), " +
      s"scored AS (SELECT bid, max(($agreeSql)/8.0) AS best_est, " +
      "count(*) AS n_hits FROM hits " +
      "JOIN sigs sa ON bid = sa.doc_id JOIN sigs sb ON cid = sb.doc_id " +
      "GROUP BY bid), " +
      "over AS (SELECT DISTINCT x.doc_id AS bid FROM bb x " +
      "JOIN csz ON x.band = csz.band AND x.band_key = csz.band_key " +
      s"WHERE csz.bn > $MinhashCap), " +
      "m AS (SELECT coalesce(s.bid, o.bid) AS bid, s.best_est, " +
      "(o.bid IS NOT NULL) AS oh " +
      "FROM scored s FULL JOIN over o ON s.bid = o.bid) " +
      "SELECT count(*) AS n_colliding, " +
      "CAST(sum(CASE WHEN best_est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_dups, " +
      "CAST(sum(CASE WHEN oh THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize, " +
      "CAST(sum(bid) AS BIGINT) AS id_sum, " +
      "round(avg(best_est), 5) AS avg_best_est FROM m")

  private val BloomM = 1 << 16
  /** Incremental cluster maintenance ([[Dedup.assignToClusters]]):
    * the 80/20 hash split plays archive vs ingest batch; batch docs
    * adopt the min cluster id of any archive doc they band-collide
    * with at est ≥ 0.5 or exactly signature-match, else become
    * singletons — "WHICH cluster is it", the steady-state upgrade of
    * q_dedup_incremental_near's yes/no. The oracle re-derives the
    * archive-scoped closure (the q_dedup_clusters recursive chain
    * restricted to archive signatures) plus the same two adoption
    * joins; the Σ cluster_id % P checksum pins every assignment. */
  private val dedupIncrClusters = Q("q_dedup_incremental_clusters",
    (s, d) => {
      val d0 = docs(s, d)
      val draw = Sampling.hashFraction(col("doc_id"))
      val archive = d0.where(draw < 0.8)
      val batch = d0.where(draw >= 0.8)
      val asn = Dedup.assignToClusters(batch, archive, "text", "doc_id",
        MinhashCap)
      asn.agg(count(lit(1)).as("n_new"),
        sum(when(col("adopted"), 1L).otherwise(0L)).as("n_adopted"),
        countDistinct(when(col("adopted"), col("cluster_id")))
          .as("n_clusters_joined"),
        sum(col("cluster_id") % lit(Dedup.P)).as("cluster_sum"))
    }, {
      val sigCols = (0 until Dedup.NumPerms).map(i => s"sig$i")
      val sigList = sigCols.mkString(", ")
      val frac = Sampling.HashFractionSql("doc_id")
      s"WITH RECURSIVE $minhashCtes, " +
        s"asig AS (SELECT * FROM sigs WHERE $frac < 0.8), " +
        s"nsig AS (SELECT * FROM sigs WHERE $frac >= 0.8), " +
        "aband AS (SELECT bands.* FROM bands JOIN asig USING (doc_id)), " +
        "nband AS (SELECT bands.* FROM bands JOIN nsig USING (doc_id)), " +
        "absz AS (SELECT band, band_key, count(*) AS bn FROM aband " +
        "GROUP BY 1, 2), " +
        "ael AS (SELECT aband.* FROM aband JOIN absz " +
        s"USING (band, band_key) WHERE absz.bn <= $MinhashCap), " +
        "apairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        "FROM ael x JOIN ael y ON x.band = y.band " +
        "AND x.band_key = y.band_key AND x.doc_id < y.doc_id), " +
        s"ascored AS (SELECT id_a, id_b, ($agreeSql)/8.0 AS ej " +
        "FROM apairs JOIN asig sa ON id_a = sa.doc_id " +
        "JOIN asig sb ON id_b = sb.doc_id), " +
        s"agm AS (SELECT $sigList, min(doc_id) AS keep_id FROM asig " +
        s"GROUP BY $sigList), " +
        "agedges AS (SELECT s.doc_id AS id_a, agm.keep_id AS id_b " +
        s"FROM asig s JOIN agm USING ($sigList) " +
        "WHERE s.doc_id <> agm.keep_id), " +
        "aedges AS (SELECT id_a, id_b FROM ascored WHERE ej >= 0.5 " +
        "UNION SELECT id_a, id_b FROM agedges), " +
        "asym AS (SELECT id_a AS u, id_b AS v FROM aedges " +
        "UNION SELECT id_b AS u, id_a AS v FROM aedges), " +
        "areach AS (SELECT doc_id AS node, doc_id AS r FROM asig " +
        "UNION SELECT asym.v AS node, areach.r FROM areach " +
        "JOIN asym ON asym.u = areach.node), " +
        "acomp AS (SELECT node, min(r) AS cluster_id FROM areach " +
        "GROUP BY node), " +
        "cand AS (SELECT DISTINCT x.doc_id AS nid, y.doc_id AS aid " +
        "FROM nband x JOIN ael y ON x.band = y.band " +
        "AND x.band_key = y.band_key), " +
        "cs AS (SELECT nid, aid FROM (SELECT cand.nid, cand.aid, " +
        s"($agreeSql)/8.0 AS ej FROM cand " +
        "JOIN nsig sa ON cand.nid = sa.doc_id " +
        "JOIN asig sb ON cand.aid = sb.doc_id) WHERE ej >= 0.5), " +
        "exact AS (SELECT n.doc_id AS nid, a.doc_id AS aid " +
        "FROM nsig n JOIN asig a ON " +
        sigCols.map(c => s"n.$c = a.$c").mkString(" AND ") + "), " +
        "hits AS (SELECT nid, aid FROM cs " +
        "UNION SELECT nid, aid FROM exact), " +
        "ad AS (SELECT hits.nid, min(acomp.cluster_id) AS cl " +
        "FROM hits JOIN acomp ON acomp.node = hits.aid " +
        "GROUP BY hits.nid), " +
        "res AS (SELECT n.doc_id, coalesce(ad.cl, n.doc_id) " +
        "AS cluster_id, ad.cl IS NOT NULL AS adopted " +
        "FROM nsig n LEFT JOIN ad ON ad.nid = n.doc_id) " +
        "SELECT count(*) AS n_new, " +
        "CAST(sum(CASE WHEN adopted THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_adopted, " +
        "count(DISTINCT CASE WHEN adopted THEN cluster_id END) " +
        "AS n_clusters_joined, " +
        s"CAST(sum(cluster_id % ${Dedup.P}) AS BIGINT) AS cluster_sum " +
        "FROM res"
    })

  private val BloomK = 5

  /** Bloom-prefiltered incremental dedup: same split as
    * [[dedupIncremental]], with the archive's signature keys packed
    * into a portable [[graft.ops.Bloom]] filter. Verifies (a) the
    * survivor count is IDENTICAL to the exact path (no false
    * negatives), (b) how many survivors the bloom alone proved new,
    * and (c) the filter's bit array itself (word count + xor), which
    * DuckDB rebuilds from the same key set, word for word. */
  private val dedupBloom = Q("q_dedup_bloom",
    (s, d) => {
      val d0 = docs(s, d)
      val batch = d0.where(col("doc_id") % 4 === 0)
      val corpus = d0.where(col("doc_id") % 4 =!= 0)
      val sigCols = (0 until Dedup.NumPerms).map(i => s"sig$i")
      val corpusSigs = Dedup.minhashSignatures(corpus, "text", "doc_id")
        .select(sigCols.map(col): _*).distinct()
      val bits = graft.ops.Bloom.build(
        corpusSigs.select(Dedup.sigKey().as("k")), "k", BloomM, BloomK)
      // one filter build feeds both the word-array stats and the op
      val surv = Dedup.newAgainstCorpusBloomWith(batch, corpusSigs, bits,
        "text", "doc_id", BloomM, BloomK)
      surv.agg(count(lit(1)).as("n_new"),
          sum(when(col("bloom_new"), 1L).otherwise(0L)).as("n_bloom_proven"))
        .withColumn("n_words_set", lit(bits.count(_ != 0L).toLong))
        .withColumn("words_xor", lit(bits.reduce(_ ^ _)))
    }, {
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      val m = BloomM
      def probes(k: String) = (0 until BloomK).map(j =>
        s"(($k % $m) + $j * (1 + $k % ${m - 1})) % $m").mkString(", ")
      s"WITH $tokSql, " +
        s"sigs AS (SELECT doc_id, $sigSql FROM h GROUP BY doc_id), " +
        "bs AS (SELECT * FROM sigs WHERE doc_id % 4 = 0), " +
        s"cs AS (SELECT DISTINCT $sigList FROM sigs WHERE doc_id % 4 <> 0), " +
        s"ck AS (SELECT DISTINCT ${Dedup.sigKeySql()} AS k FROM cs), " +
        s"cpos AS (SELECT unnest([${probes("k")}]) AS p FROM ck), " +
        "words AS (SELECT p // 60 AS w, " +
        "bit_or(CAST(pow(2, p % 60) AS BIGINT)) AS word FROM cpos " +
        "GROUP BY p // 60), " +
        s"bk AS (SELECT doc_id, ${Dedup.sigKeySql()} AS k FROM bs), " +
        s"bp AS (SELECT doc_id, unnest([${probes("k")}]) AS p FROM bk), " +
        "hit AS (SELECT bp.doc_id, min(CASE WHEN words.word IS NOT NULL " +
        "AND (words.word & CAST(pow(2, bp.p % 60) AS BIGINT)) <> 0 " +
        "THEN 1 ELSE 0 END) AS allhit FROM bp " +
        "LEFT JOIN words ON words.w = bp.p // 60 GROUP BY bp.doc_id), " +
        s"surv AS (SELECT bs.* FROM bs ANTI JOIN cs USING ($sigList)) " +
        "SELECT (SELECT count(*) FROM surv) AS n_new, " +
        "(SELECT CAST(sum(CASE WHEN allhit = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) FROM hit) AS n_bloom_proven, " +
        "(SELECT count(*) FROM words) AS n_words_set, " +
        "(SELECT bit_xor(word) FROM words) AS words_xor"
    })

  /** Sharded Bloom point-lookup index ([[graft.ops.Bloom.shardIndex]]
    * / [[graft.ops.Bloom.probeShards]]) — the equality-predicate
    * sibling of the parquet-footer min/max stats: "which of the
    * corpus's shards/files can contain key K" answered from a tiny
    * relational index table instead of a scan. Shards are the
    * rendezvous assignment (the layout the engine already ships);
    * probes are a planted present set (every one MUST hit its true
    * shard — the zero-false-negative contract, pinned as n_missed=0)
    * and an offset absent set (only false positives — the measured
    * pruning rate). Both the index build (explode + bit_or onto the
    * shards × words grain) and the probe (one join + keyed count
    * equality) are fully relational — the oracle reproduces the
    * exact bits, candidates, and the one IEEE fp-rate division. */
  private val BloomIdxM = 8192
  private val BloomIdxK = 5
  private val BloomIdxShards = 12
  private val shardBloomIndex = Q("q_shard_bloomindex",
    (s, d) => {
      val dd = docs(s, d).select(col("doc_id"))
      val sharded = dd.withColumn("shard",
        graft.ops.Layout.rendezvousShard(col("doc_id"), BloomIdxShards))
      val index = graft.ops.Bloom.shardIndex(sharded, "shard", "doc_id",
        BloomIdxM, BloomIdxK)
      val present = dd.where(col("doc_id") % 17 === 3)
        .select(col("doc_id").as("k"))
      val probes = present.withColumn("cls", lit("present"))
        .unionByName(present.select(
          (col("k") + lit(1000000000000L)).as("k"),
          lit("absent").as("cls")))
      val cand = graft.ops.Bloom.probeShards(index,
          probes.select(col("k")), "k", BloomIdxM, BloomIdxK)
        .join(probes, col("key") === col("k"))
        .select(col("key"), col("shard"), col("cls"))
      val truth = sharded.join(present, col("doc_id") === col("k"))
        .select(col("doc_id").as("tk"), col("shard").as("tshard"))
      val agg = probes.groupBy("cls").agg(count(lit(1)).as("n_probes"))
      val ca = cand.groupBy("cls").agg(count(lit(1)).as("n_cand"))
      val tj = cand.join(truth,
          col("key") === col("tk") && col("shard") === col("tshard"))
        .groupBy("cls").agg(count(lit(1)).as("n_true"))
      val tt = truth.agg(count(lit(1)).as("n_truth"))
        .withColumn("cls", lit("present"))
      agg.join(ca, Seq("cls"), "left").join(tj, Seq("cls"), "left")
        .join(tt, Seq("cls"), "left")
        .select(col("cls"), col("n_probes"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand_pairs"),
          coalesce(col("n_true"), lit(0L)).as("n_true_pairs"),
          (coalesce(col("n_truth"), lit(0L)) -
            coalesce(col("n_true"), lit(0L))).as("n_missed"),
          ((coalesce(col("n_cand"), lit(0L)) -
            coalesce(col("n_true"), lit(0L))).cast("double") /
            (col("n_probes") * lit(BloomIdxShards.toLong) -
              coalesce(col("n_true"), lit(0L))).cast("double"))
            .as("fp_rate"))
        .orderBy("cls")
    }, {
      val m = BloomIdxM
      def probes(k: String) = (0 until BloomIdxK).map(j =>
        s"(($k % $m) + $j * (1 + $k % ${m - 1})) % $m").mkString(", ")
      val scores = graft.ops.Layout.RendezvousScoresSql("doc_id",
        BloomIdxShards)
      s"WITH sh AS MATERIALIZED (SELECT doc_id, " +
        "CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS INT) " +
        s"AS shard FROM (SELECT doc_id, $scores AS l FROM " +
        "(SELECT doc_id FROM documents))), " +
        "pos AS (SELECT shard, " +
        s"unnest([${probes("doc_id")}]) AS p FROM sh), " +
        "idx AS MATERIALIZED (SELECT shard, p // 60 AS w, " +
        "bit_or(CAST(pow(2, p % 60) AS BIGINT)) AS word FROM pos " +
        "GROUP BY shard, p // 60), " +
        "pr AS MATERIALIZED (SELECT doc_id AS k, 'present' AS cls " +
        "FROM documents WHERE doc_id % 17 = 3 " +
        "UNION ALL SELECT doc_id + 1000000000000, 'absent' " +
        "FROM documents WHERE doc_id % 17 = 3), " +
        s"pp AS (SELECT k, cls, " +
        s"unnest(list_distinct([${probes("k")}])) AS p FROM pr), " +
        "pn AS (SELECT k, count(DISTINCT p) AS np FROM pp GROUP BY k), " +
        "hit AS (SELECT pp.k, pp.cls, idx.shard, " +
        "count(DISTINCT pp.p) AS nh FROM pp JOIN idx " +
        "ON idx.w = pp.p // 60 " +
        "AND (idx.word & CAST(pow(2, pp.p % 60) AS BIGINT)) <> 0 " +
        "GROUP BY pp.k, pp.cls, idx.shard), " +
        "cand AS MATERIALIZED (SELECT hit.k, hit.cls, hit.shard " +
        "FROM hit JOIN pn ON pn.k = hit.k AND hit.nh = pn.np), " +
        "tr AS MATERIALIZED (SELECT sh.doc_id AS tk, sh.shard AS tshard " +
        "FROM sh WHERE sh.doc_id % 17 = 3), " +
        "agg AS (SELECT cls, count(*) AS n_probes FROM pr GROUP BY cls), " +
        "ca AS (SELECT cls, count(*) AS n_cand FROM cand GROUP BY cls), " +
        "tj AS (SELECT c.cls, count(*) AS n_true FROM cand c " +
        "JOIN tr ON tr.tk = c.k AND tr.tshard = c.shard GROUP BY c.cls), " +
        "tt AS (SELECT 'present' AS cls, count(*) AS n_truth FROM tr) " +
        "SELECT agg.cls, agg.n_probes, " +
        "coalesce(ca.n_cand, 0) AS n_cand_pairs, " +
        "coalesce(tj.n_true, 0) AS n_true_pairs, " +
        "coalesce(tt.n_truth, 0) - coalesce(tj.n_true, 0) AS n_missed, " +
        "CAST(coalesce(ca.n_cand, 0) - coalesce(tj.n_true, 0) AS DOUBLE) " +
        s"/ CAST(agg.n_probes * $BloomIdxShards - " +
        "coalesce(tj.n_true, 0) AS DOUBLE) AS fp_rate " +
        "FROM agg LEFT JOIN ca USING (cls) LEFT JOIN tj USING (cls) " +
        "LEFT JOIN tt USING (cls) ORDER BY cls"
    })

  /** Cross-document duplicated-n-gram rate (Lee et al. 2022 signal):
    * per-source average share of a doc's distinct trigrams occurring
    * in ≥ 2 docs, and the count of dup-heavy (≥ 0.5) docs. */
  /** Fill-in-middle transformation (Bavarian et al. 2022): docs
    * reorder to the PSM layout — `<PRE> prefix <SUF> suffix <MID>
    * middle` — so an autoregressive model learns infilling; the two
    * split points are salted hash draws on the doc id (deterministic,
    * replayable, independent of every other sampler's draws). Docs
    * under 4 tokens pass through untransformed. Pure per-row map —
    * no shuffle; the transformed-text checksum pins the
    * exact token layout of every emitted doc cross-engine. */
  private val packFim = Q("q_pack_fim",
    (s, d) => {
      val ws = TextAnalysis.tokens(col("text"))
      val n = size(ws)
      def draw(salt: String) =
        (pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit(salt))), (n - 1).cast("long"))
          + lit(1L)).cast("int")
      val d1 = draw("#fim1"); val d2 = draw("#fim2")
      val lo = least(d1, d2); val hi = greatest(d1, d2)
      // slice(arr, start1based, len)
      val pre = slice(ws, lit(1), lo)
      val mid = slice(ws, lo + 1, hi - lo)
      val suf = slice(ws, hi + 1, n - hi)
      val fim = concat_ws(" ", lit("<PRE>"), array_join(pre, " "),
        lit("<SUF>"), array_join(suf, " "),
        lit("<MID>"), array_join(mid, " "))
      docs(s, d)
        .select(col("source"), col("doc_id"), n.as("n"),
          when(n >= 4, fim).otherwise(col("text")).as("t"),
          when(n >= 4, hi - lo).otherwise(lit(0)).cast("long").as("midlen"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") >= 4, 1L).otherwise(0L)).as("n_fim"),
          sum(col("midlen")).as("mid_toks"),
          sum(TextAnalysis.tokenHash(col("t")) % lit(CleanSumMod))
            .as("fim_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS ws, " +
      "text, len(string_split(text, ' ')) AS n FROM documents), " +
      "sp AS (SELECT source, doc_id, ws, text, n, " +
      s"CAST(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#fim1'")} % (n - 1) + 1 AS INT) " +
      "AS d1, " +
      s"CAST(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#fim2'")} % (n - 1) + 1 AS INT) " +
      "AS d2 FROM t WHERE n >= 4), " +
      "f AS (SELECT source, doc_id, n, " +
      "least(d1, d2) AS lo, greatest(d1, d2) AS hi, " +
      // DuckDB returns NULL (not []) for an inverted-bound slice, so
      // the empty-middle case needs coalesce to match Spark's ""
      "'<PRE> ' || coalesce(array_to_string(ws[1:least(d1, d2)], ' '), '') || " +
      "' <SUF> ' || coalesce(array_to_string(ws[greatest(d1, d2)+1:n], ' '), '') || " +
      "' <MID> ' || coalesce(array_to_string(ws[least(d1, d2)+1:greatest(d1, d2)], ' '), '') " +
      "AS fim FROM sp), " +
      "u AS (SELECT source, n, hi - lo AS midlen, fim AS t2 FROM f " +
      "UNION ALL SELECT source, n, 0 AS midlen, text AS t2 FROM t " +
      "WHERE n < 4) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fim, " +
      "CAST(sum(midlen) AS BIGINT) AS mid_toks, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("t2")} % $CleanSumMod) " +
      "AS BIGINT) AS fim_sum " +
      "FROM u GROUP BY source ORDER BY source")

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): each FULL
    * [[ScB]]-token block loses one [[ScL]]-token span at a salted-
    * hash offset — the span's first position becomes the block's
    * sentinel `<Xb>`, the rest drop; the target is the sentinel-
    * prefixed span contents in block order. One span per full block
    * keeps spans non-overlapping and fully in range BY CONSTRUCTION
    * (no cross-engine slice-edge cases); the trailing partial block
    * is never corrupted. Pure per-row map; input and
    * target checksums pin both emitted strings exactly. */
  private val ScB = 20
  private val ScL = 3
  private val ScOffMod = ScB - ScL + 1
  private val packSpanCorrupt = Q("q_pack_spancorrupt",
    (s, d) => {
      val ws = TextAnalysis.tokens(col("text"))
      val n = size(ws)
      val nfull = (n / ScB).cast("int")
      def blockOf(i: org.apache.spark.sql.Column) = ((i - 1) / ScB).cast("long")
      def offOf(b: org.apache.spark.sql.Column) = pmod(TextAnalysis.tokenHash(
        concat(col("doc_id").cast("string"), lit("#sc#"),
          b.cast("string"))), lit(ScOffMod.toLong)).cast("int")
      val inputArr = transform(sequence(lit(1), n), i => {
        val b = blockOf(i)
        val off = offOf(b)
        val pos = (i - 1) % ScB
        when(b < nfull && pos === off,
          concat(lit("<X"), b.cast("string"), lit(">")))
          .when(b < nfull && pos > off && pos < off + ScL, lit(""))
          .otherwise(element_at(ws, i))
      })
      val input = array_join(filter(inputArr, x => x =!= ""), " ")
      val targetArr = transform(sequence(lit(0), nfull - 1), b => {
        val off = offOf(b.cast("long"))
        concat(lit("<X"), b.cast("string"), lit("> "),
          array_join(slice(ws, b * ScB + off + 1, lit(ScL)), " "))
      })
      val target = array_join(targetArr, " ")
      docs(s, d)
        .select(col("source"), col("doc_id"), nfull.as("nf"),
          when(nfull >= 1, input).otherwise(col("text")).as("inp"),
          when(nfull >= 1, target).otherwise(lit("")).as("tgt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nf") >= 1, 1L).otherwise(0L)).as("n_corrupted"),
          sum(col("nf").cast("long") * ScL).as("masked_toks"),
          sum(TextAnalysis.tokenHash(col("inp")) % lit(CleanSumMod))
            .as("input_sum"),
          sum(TextAnalysis.tokenHash(col("tgt")) % lit(CleanSumMod))
            .as("target_sum"))
        .orderBy("source")
    }, {
      val offSql = s"(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#sc#' || CAST((i-1)//" + ScB +
          " AS VARCHAR)")} % $ScOffMod)"
      val offBSql = s"(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#sc#' || CAST(b AS VARCHAR)")} " +
        s"% $ScOffMod)"
      "WITH t AS (SELECT source, doc_id, text, " +
        "string_split(text, ' ') AS ws, " +
        "len(string_split(text, ' ')) AS n, " +
        s"len(string_split(text, ' ')) // $ScB AS nfull " +
        "FROM documents), " +
        "c AS (SELECT source, doc_id, nfull, " +
        "CASE WHEN nfull >= 1 THEN array_to_string(list_filter(" +
        s"[CASE WHEN (i-1)//$ScB < nfull AND (i-1)%$ScB = $offSql " +
        s"THEN '<X' || CAST((i-1)//$ScB AS VARCHAR) || '>' " +
        s"WHEN (i-1)//$ScB < nfull AND (i-1)%$ScB > $offSql " +
        s"AND (i-1)%$ScB < $offSql + $ScL THEN '' " +
        "ELSE ws[i] END for i in generate_series(1, n)], " +
        "x -> x <> ''), ' ') ELSE text END AS inp, " +
        "CASE WHEN nfull >= 1 THEN array_to_string(" +
        "['<X' || CAST(b AS VARCHAR) || '> ' || " +
        s"array_to_string(ws[b*$ScB+$offBSql+1:b*$ScB+$offBSql+$ScL], " +
        "' ') for b in generate_series(0, nfull - 1)], ' ') " +
        "ELSE '' END AS tgt " +
        "FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN nfull >= 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_corrupted, " +
        s"CAST(sum(nfull * $ScL) AS BIGINT) AS masked_toks, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("inp")} % $CleanSumMod) " +
        "AS BIGINT) AS input_sum, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("tgt")} % $CleanSumMod) " +
        "AS BIGINT) AS target_sum " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** Chat-template rendering with loss masks (the SFT layout step):
    * each doc becomes a deterministic multi-turn conversation — a
    * salted hash on the doc id picks 2 or 4 turns, token boundaries
    * fall at floor(i·n/T), turns alternate `<|user|>`/`<|assistant|>`
    * markers, and the doc closes with `<|eos|>`. The loss mask counts
    * assistant-turn tokens only (the spans a trainer backpropagates
    * through). Docs under 4 tokens render as a single unmasked user
    * turn. Pure per-row map — no shuffle; the rendered-
    * text checksum pins the exact byte layout of every conversation
    * cross-engine, and masked_toks pins the mask geometry. */
  private val packChat = Q("q_pack_chat",
    (s, d) => {
      val ch = Sampling.chatTemplate(col("text"), col("doc_id"))
      docs(s, d)
        .select(col("source"), ch.getField("t").as("t"),
          ch.getField("masked").as("masked"),
          ch.getField("rendered").as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("t") > 1, 1L).otherwise(0L)).as("n_multi"),
          sum(col("t").cast("long")).as("n_turns"),
          sum(col("masked")).as("masked_toks"),
          sum(TextAnalysis.tokenHash(col("r")) % lit(CleanSumMod))
            .as("chat_sum"))
        .orderBy("source")
    }, {
      val tSql = s"CASE WHEN n >= 4 THEN 2 * (${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#chat'")} % 2 + 1) ELSE 1 END"
      "WITH t0 AS (SELECT source, doc_id, " +
        "string_split(text, ' ') AS ws, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        s"t AS (SELECT source, ws, n, $tSql AS tt FROM t0), " +
        "c AS (SELECT source, tt, " +
        "array_to_string([CASE WHEN i % 2 = 0 THEN '<|user|>' " +
        "ELSE '<|assistant|>' END || ' ' || " +
        "coalesce(array_to_string(ws[(i*n)//tt+1:((i+1)*n)//tt], ' '), '') " +
        "for i in generate_series(0, tt - 1)], ' ') || ' <|eos|>' AS r, " +
        "coalesce(list_sum([((i+1)*n)//tt - (i*n)//tt " +
        "for i in generate_series(1, tt - 1, 2)]), 0) AS masked " +
        "FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN tt > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_multi, " +
        "CAST(sum(tt) AS BIGINT) AS n_turns, " +
        "CAST(sum(masked) AS BIGINT) AS masked_toks, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("r")} % $CleanSumMod) " +
        "AS BIGINT) AS chat_sum " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** Preference-pair construction (the DPO/RLHF data-prep step):
    * within each (source, hash-bucket) the docs rank by an INTEGER
    * quality proxy (distinct-token count, doc_id tiebreak — exact
    * cross-engine, no float ordering hazard) and rank i pairs with
    * rank m+1−i: chosen = the higher-quality doc, rejected = the
    * lower, prompt = the chosen doc's first 8 tokens. The middle doc
    * of an odd bucket stays unpaired. Scale shape: the window and the
    * pair-merge both run on (source, bucket) — bucket count is the
    * parallelism knob, sized to the corpus like nShards — and ONLY
    * (source, bucket, id, q, two 40-bit digests) ever shuffle; texts
    * and prompts hash PRE-shuffle, so pairing two docs never moves
    * their bytes. Margin sum is an exact integer; the three digests
    * pin pair membership and orientation. */
  private val DpoB = 8L
  private val packDpo = Q("q_pack_dpo",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ws = TextAnalysis.tokens(col("text"))
      val t0 = docs(s, d).select(col("source"), col("doc_id"),
        size(array_distinct(ws)).as("q"),
        (TextAnalysis.tokenHash(col("text")) % lit(DigestMod)).as("h_text"),
        (TextAnalysis.tokenHash(array_join(slice(ws, 1, 8), " "))
          % lit(DigestMod)).as("h_prompt"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#dpo"))), lit(DpoB))
          .as("b"))
      val w = Window.partitionBy("source", "b")
      val rnk = row_number().over(
        w.orderBy(col("q").desc, col("doc_id").asc))
      val m = count(lit(1)).over(w)
      val ranked = t0.select(col("source"), col("b"), col("q"),
          col("h_text"), col("h_prompt"), rnk.as("rnk"), m.as("m"))
        .where(col("rnk") * 2 =!= col("m") + 1)
      val chosen = col("rnk") * 2 < col("m") + 1
      ranked.groupBy(col("source"), col("b"),
          least(col("rnk"), col("m") + 1 - col("rnk")).as("pid"))
        .agg(max(when(chosen, col("q"))).as("qc"),
          max(when(!chosen, col("q"))).as("qr"),
          max(when(chosen, col("h_text"))).as("hc"),
          max(when(!chosen, col("h_text"))).as("hr"),
          max(when(chosen, col("h_prompt"))).as("hp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("qc") - col("qr")).as("margin_sum"),
          sum(col("hc")).as("chosen_sum"),
          sum(col("hr")).as("rejected_sum"),
          sum(col("hp")).as("prompt_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, doc_id, " +
      "len(list_distinct(string_split(text, ' '))) AS q, " +
      s"${TextAnalysis.TokenHashSql("text")} % $DigestMod AS h_text, " +
      s"${TextAnalysis.TokenHashSql(
        "array_to_string(string_split(text, ' ')[1:8], ' ')")} " +
      s"% $DigestMod AS h_prompt, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#dpo'")} % $DpoB AS b " +
      "FROM documents), " +
      "w AS (SELECT *, row_number() OVER (PARTITION BY source, b " +
      "ORDER BY q DESC, doc_id ASC) AS rnk, " +
      "count(*) OVER (PARTITION BY source, b) AS m FROM t), " +
      "p AS (SELECT source, b, least(rnk, m + 1 - rnk) AS pid, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN q END) AS qc, " +
      "max(CASE WHEN rnk * 2 > m + 1 THEN q END) AS qr, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN h_text END) AS hc, " +
      "max(CASE WHEN rnk * 2 > m + 1 THEN h_text END) AS hr, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN h_prompt END) AS hp " +
      "FROM w WHERE rnk * 2 <> m + 1 GROUP BY source, b, pid) " +
      "SELECT source, count(*) AS n_pairs, " +
      "CAST(sum(qc - qr) AS BIGINT) AS margin_sum, " +
      "CAST(sum(hc) AS BIGINT) AS chosen_sum, " +
      "CAST(sum(hr) AS BIGINT) AS rejected_sum, " +
      "CAST(sum(hp) AS BIGINT) AS prompt_sum " +
      "FROM p GROUP BY source ORDER BY source")

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
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE " +
        "/ greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, " +
        s"1.0) + 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), " +
        "0.0), 1.0)"
      "WITH t AS (SELECT source, lang, text, n_chars, " +
        "string_split(text, ' ') AS ws FROM documents), " +
        "base AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(ws)) AS BIGINT) AS tokens, " +
        "count(DISTINCT md5(text)) AS n_unique, " +
        s"round(avg($qs), 5) AS avg_q FROM t GROUP BY source), " +
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
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE " +
        "/ greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, " +
        s"1.0) + 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), " +
        "0.0), 1.0)"
      val tSql = s"CASE WHEN n >= 4 THEN 2 * (${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#chat'")} % 2 + 1) ELSE 1 END"
      "WITH f0 AS (SELECT doc_id, source, text, " +
        "string_split(text, ' ') AS ws FROM documents), " +
        "f AS (SELECT doc_id, source, text, " +
        s"(($blkSum) < $BlkMax) AS clean, ($qs >= 0.5) AS hq FROM f0), " +
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

  private val dedupSoft = Q("q_dedup_soft",
    (s, d) => {
      val d0 = docs(s, d)
      val cl = Dedup.minhashClusters(d0, "text", "doc_id",
        maxBucket = MinhashCap)
      val csz = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      cl.join(csz, "cluster_id")
        .join(d0.select(col("doc_id"), col("source"),
          TextAnalysis.wordCount(col("text")).as("nt")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_down"),
          round(sum(lit(1.0) / col("sz")), 5).as("eff_docs"),
          round(sum(col("nt").cast("double") / col("sz")), 5)
            .as("eff_toks"))
        .orderBy("source")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "csz AS (SELECT cluster_id, count(*) AS sz FROM comp " +
      "GROUP BY cluster_id), " +
      "j AS (SELECT d.source, csz.sz, " +
      "length(d.text) - length(replace(d.text, ' ', '')) + 1 AS nt " +
      "FROM comp JOIN csz USING (cluster_id) " +
      "JOIN documents d ON d.doc_id = comp.node) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_down, " +
      "round(sum(CAST(1 AS DOUBLE) / sz), 5) AS eff_docs, " +
      "round(sum(CAST(nt AS DOUBLE) / sz), 5) AS eff_toks " +
      "FROM j GROUP BY source ORDER BY source")

  /** Edit-distance-verified near-dup pairs (block with MinHash LSH,
    * verify with Levenshtein — the PPJoin-family "filter then verify"
    * shape): candidates from the CAPPED band join, verification on a
    * fixed 120-char document head so per-pair cost is a constant and
    * the total is linear in the (cap-bounded) candidate count. Texts
    * join back by 8-byte id AFTER pair generation — full documents
    * never ride the band shuffle. Levenshtein is exact integer
    * character-edit DP on both engines (ASCII corpus → unit parity),
    * so counts, the rounded mean, and the verified-pair digest all pin
    * bit-identically. */
  private val EditPrefix = 120
  private val EditTau = 20
  private val dedupEditDist = Q("q_dedup_editdist",
    (s, d) => {
      val d0 = docs(s, d)
      val pairs = Dedup.editVerifiedPairs(d0, "text", "doc_id",
        MinhashCap, EditPrefix)
      pairs
        .join(d0.select(col("doc_id").as("id_a"), col("source")), "id_a")
        .groupBy("source")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("lev") <= EditTau, 1L).otherwise(0L)).as("n_dup"),
          round(avg(col("lev").cast("double")), 5).as("avg_lev"),
          sum(when(col("lev") <= EditTau,
            pmod(col("id_a") * 131L + col("id_b"), lit(CleanSumMod)))
            .otherwise(0L)).as("pair_digest"))
        .orderBy("source")
    },
    s"WITH $minhashCtes, ${pairsSql(MinhashCap)}, " +
      "lv AS (SELECT p.id_a, p.id_b, da.source, " +
      s"levenshtein(substr(da.text, 1, $EditPrefix), " +
      s"substr(db.text, 1, $EditPrefix)) AS lev " +
      "FROM pairs p JOIN documents da ON p.id_a = da.doc_id " +
      "JOIN documents db ON p.id_b = db.doc_id) " +
      "SELECT source, count(*) AS n_cand, " +
      s"CAST(sum(CASE WHEN lev <= $EditTau THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_dup, " +
      "round(avg(CAST(lev AS DOUBLE)), 5) AS avg_lev, " +
      s"CAST(sum(CASE WHEN lev <= $EditTau THEN " +
      s"(id_a * 131 + id_b) % $CleanSumMod ELSE 0 END) AS BIGINT) " +
      "AS pair_digest " +
      "FROM lv GROUP BY source ORDER BY source")

  /** Shared oracle CTE chain for the CDC family: docs → per-position
    * window-hash candidates (stateless comprehension) → recursive
    * min/max walk → chunk extraction → `cfp(doc_id, source, fp,
    * len)`. Callers must open with WITH RECURSIVE. */
  private val cdcCtes: String = {
    val M = graft.ops.Cdc.M
    val Dd = graft.ops.Cdc.D
    val W = graft.ops.Cdc.W
    val minC = graft.ops.Cdc.MinC
    val maxC = graft.ops.Cdc.MaxC
    val pows = graft.ops.Cdc.BPow.mkString("[", ", ", "]")
    val fpSql = TextAnalysis.TokenHashSql("chunk")
    "c AS (SELECT doc_id, source, text, " +
      "length(text) AS n FROM documents WHERE text IS NOT NULL " +
      "AND length(text) > 0), " +
      "cd AS MATERIALIZED (SELECT doc_id, source, text, n, " +
      s"CASE WHEN n >= $W THEN [CAST(i AS INT) " +
      s"for i in range($W, n + 1) if (list_sum(" +
      s"[(CAST(ascii(substr(text, i - j, 1)) AS BIGINT) * " +
      s"($pows)[j + 1]) % $M " +
      s"for j in range(0, $W)]) % $M) % $Dd = 0] " +
      "ELSE CAST([] AS INT[]) END AS cands FROM c), " +
      "walk AS (SELECT doc_id, source, text, n, cands, 0 AS cur, " +
      "CAST([] AS INT[]) AS bs FROM cd " +
      "UNION ALL SELECT w.doc_id, w.source, w.text, w.n, w.cands, " +
      s"coalesce(list_min([c for c in w.cands if c >= w.cur + $minC " +
      s"and c < least(w.cur + $maxC, w.n)]), " +
      s"least(w.cur + $maxC, w.n)), " +
      "list_append(w.bs, " +
      s"coalesce(list_min([c for c in w.cands if c >= w.cur + $minC " +
      s"and c < least(w.cur + $maxC, w.n)]), " +
      s"least(w.cur + $maxC, w.n))) " +
      "FROM walk w WHERE w.cur < w.n), " +
      "fin AS (SELECT doc_id, source, text, bs FROM walk " +
      "WHERE cur = n), " +
      "chx AS (SELECT doc_id, source, unnest([substr(text, " +
      "(list_prepend(0, bs))[k] + 1, " +
      "bs[k] - (list_prepend(0, bs))[k]) " +
      "for k in range(1, len(bs) + 1)]) AS chunk FROM fin), " +
      s"cfp AS (SELECT doc_id, source, $fpSql AS fp, " +
      "length(chunk) AS len FROM chx)"
  }

  /** Content-defined chunking dedup ([[graft.ops.Cdc]] — LBFS 2001 /
    * FastCDC 2016): chunk boundaries where a 16-char window hash
    * hits 0 mod D, min/max enforced, so identical regions chunk
    * identically regardless of offset — the storage-level dedup
    * shape that catches SHIFTED duplicates exact-hash dedup
    * fundamentally misses. Output: per-source chunk counts, the
    * distinct-chunk mass, and the dedup ratio (distinct chars /
    * total chars — the storage a CDC store saves on this corpus,
    * where ~0.3% of docs are exact-dup pairs and every chunk of a
    * dup doc collides with its twin). Everything up to the
    * (source, fp, len) grain is a pure per-row map — text never
    * shuffles; the oracle replays the window hash (per-position
    * list comprehension — the window sum needs no rolling state),
    * the min/max walk (recursive CTE), chunk extraction, and the
    * md5 fingerprints, pinning every count, the ratio division, and
    * the digest bit-exactly. */
  private val dedupCdc = Q("q_dedup_cdc",
    (s, d) => {
      val ch = graft.ops.Cdc.chunks(docs(s, d), "text", Seq("source"))
      ch.groupBy("source", "fp", "len")
        .agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).as("n_chunks"),
          sum(col("n") * col("len")).as("total_chars"),
          count(lit(1)).as("n_distinct"),
          sum(col("len")).as("distinct_chars"),
          sum(col("n") * pmod(col("fp"), lit(graft.ops.Cdc.M)))
            .as("__dg"))
        .select(col("source"), col("n_chunks"), col("total_chars"),
          col("n_distinct"), col("distinct_chars"),
          (col("distinct_chars").cast("double") /
            col("total_chars").cast("double")).as("dedup_ratio"),
          pmod(col("__dg"), lit(graft.ops.Cdc.M)).as("fp_digest"))
        .orderBy("source")
    }, {
      val M = graft.ops.Cdc.M
      s"WITH RECURSIVE $cdcCtes, " +
        "pg AS (SELECT source, fp, len, " +
        "count(*) AS cnt FROM cfp GROUP BY 1, 2, 3) " +
        "SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks, " +
        "CAST(sum(cnt * len) AS BIGINT) AS total_chars, " +
        "count(*) AS n_distinct, " +
        "CAST(sum(len) AS BIGINT) AS distinct_chars, " +
        "CAST(sum(len) AS DOUBLE) / CAST(sum(cnt * len) AS DOUBLE) " +
        "AS dedup_ratio, " +
        s"CAST(sum(cnt * (fp % $M)) AS BIGINT) % $M AS fp_digest " +
        "FROM pg GROUP BY source ORDER BY source"
    })

  /** CDC near-dup pairs ([[graft.ops.Cdc.pairs]]): the application
    * form — docs whose chunk sets overlap at containment ≥ θ on the
    * smaller side, from an fp-equality join with hot chunks
    * (df > maxDf) diverted from pair generation (the capped-LSH
    * skew bound; diverted chunks still count toward doc SIZE, so
    * containment is conservative). Fixture: the documents corpus
    * carries ~0.3% exact text-copy pairs (chunk sets match
    * completely → containment exactly 1.0, counted by n_full) plus
    * genuine partial overlaps among short docs whose few chunks
    * repeat under the bounded vocabulary — a real phenomenon both
    * engines must agree on; the digest pins every (id_a, id_b). */
  private val dedupCdcPairs = Q("q_dedup_cdc_pairs",
    (s, d) => {
      val ch = graft.ops.Cdc.chunks(
        docs(s, d).select("doc_id", "text"), "text", Seq("doc_id"))
      val p = graft.ops.Cdc.pairs(ch, "doc_id", theta = 0.5, maxDf = 64)
      p.agg(count(lit(1)).as("n_pairs"),
          sum(col("n_shared")).as("sum_shared"),
          sum(least(col("n_a"), col("n_b"))).as("sum_minsize"),
          sum(when(col("containment") >= 1.0, 1L).otherwise(0L))
            .as("n_full"),
          sum(pmod(col("id_a") * 131L + col("id_b"),
            lit(CleanSumMod))).as("pair_digest"))
        .select(col("n_pairs"), col("sum_shared"), col("sum_minsize"),
          (col("sum_shared").cast("double") /
            col("sum_minsize").cast("double")).as("macro_containment"),
          col("n_full"), col("pair_digest"))
    }, {
      s"WITH RECURSIVE $cdcCtes, " +
        "cf AS (SELECT DISTINCT doc_id, fp FROM cfp), " +
        "sz AS (SELECT doc_id, count(*) AS nc FROM cf GROUP BY doc_id), " +
        "hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM cf " +
        "GROUP BY fp) WHERE df > 64), " +
        "cold AS (SELECT doc_id, fp FROM cf " +
        "WHERE fp NOT IN (SELECT fp FROM hot)), " +
        "sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "count(*) AS n_shared FROM cold a JOIN cold b " +
        "ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT sh.id_a, sh.id_b, sh.n_shared, " +
        "sa.nc AS n_a, sb.nc AS n_b, " +
        "CAST(sh.n_shared AS DOUBLE) / " +
        "CAST(least(sa.nc, sb.nc) AS DOUBLE) AS containment " +
        "FROM sh JOIN sz sa ON sa.doc_id = sh.id_a " +
        "JOIN sz sb ON sb.doc_id = sh.id_b), " +
        "fl AS (SELECT * FROM pr WHERE containment >= 0.5) " +
        "SELECT count(*) AS n_pairs, " +
        "CAST(sum(n_shared) AS BIGINT) AS sum_shared, " +
        "CAST(sum(least(n_a, n_b)) AS BIGINT) AS sum_minsize, " +
        "CAST(sum(n_shared) AS DOUBLE) / " +
        "CAST(sum(least(n_a, n_b)) AS DOUBLE) AS macro_containment, " +
        "CAST(sum(CASE WHEN containment >= 1.0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_full, " +
        s"CAST(sum((id_a * 131 + id_b) % $CleanSumMod) AS BIGINT) " +
        "AS pair_digest FROM fl"
    })

  /** Entity resolution on the CUSTOMER table ([[graft.ops.Entity]]):
    * the structured-record linkage shape (same customer entered
    * twice with a typo'd key). Fixture side (the multimodal
    * pattern-builder doctrine — derive dirty records in-plan from
    * deterministic formulas, resolve with the REAL operator, oracle
    * recomputes everything): each customer yields its clean record
    * plus a dirty twin whose digit key carries (custkey mod 3) one
    * of {exact copy, single substitution, single deletion}, with
    * every 7th customer overridden to a DOUBLE substitution — the
    * negative control that must stay unresolved (lev 2 > τ=1).
    * Resolution = deletion-1 neighborhood blocking (FastSS — 100%
    * recall at τ=1 by construction, bucket sizes O(match group)) ×
    * (nation, segment) equality prior → `levenshtein ≤ 1` verify on
    * candidates only → union-find contraction closure. The oracle
    * replays the typo formulas, the neighborhood explode, the same
    * verify, and a recursive min-label closure, so per-record entity
    * labels pin bit-for-bit (digest) — including any accidental
    * cross-customer merges (adjacent keys in the same nation+segment
    * are genuine lev-1 pairs; both engines must agree on them). */
  /** Shared oracle CTE chain for the entity-resolution family: typo
    * fixture (base→d1→d2) → two records per customer (recs) → keys
    * (rk) → deletion-neighborhood blocking (dk) → candidates → lev
    * verify → recursive min-label closure → per-record labels
    * `lab(rid, name, key, nat, seg, entity)`. Callers must open with
    * WITH RECURSIVE. d1/d2 also pre-compute the arrival-typo column
    * (`subp2`) the incremental query's fixture uses. */
  /** [[entityCtes]] with a caller-chosen verify predicate over the
    * candidate names (ra.name / rb.name in scope) — the SQL twin of
    * [[graft.ops.Entity.resolveWith]]. */
  private def entityCtesWith(verifySql: String): String =
    "base AS (SELECT c_custkey AS k, c_name, " +
      "c_nationkey AS nat, c_mktsegment AS seg, " +
      "substr(c_name, 10, 9) AS dg, " +
      "CAST(c_custkey % 9 AS INT) AS p0, " +
      "CAST((c_custkey % 9 + 3) % 9 AS INT) AS p1, " +
      "CAST((c_custkey % 9 + 5) % 9 AS INT) AS p2 FROM customer), " +
      "d1 AS (SELECT *, substr(dg, 1, p0) || " +
      "CAST((CAST(substr(dg, p0 + 1, 1) AS INT) + 1) % 10 AS VARCHAR) " +
      "|| substr(dg, p0 + 2) AS sub0, " +
      "substr(dg, 1, p0) || substr(dg, p0 + 2) AS del0 FROM base), " +
      "d2 AS (SELECT *, substr(sub0, 1, p1) || " +
      "CAST((CAST(substr(sub0, p1 + 1, 1) AS INT) + 1) % 10 AS VARCHAR) " +
      "|| substr(sub0, p1 + 2) AS sub01, " +
      "substr(dg, 1, p2) || " +
      "CAST((CAST(substr(dg, p2 + 1, 1) AS INT) + 1) % 10 AS VARCHAR) " +
      "|| substr(dg, p2 + 2) AS subp2 FROM d1), " +
      "recs AS (SELECT k * 2 AS rid, c_name AS name, nat, seg " +
      "FROM base UNION ALL SELECT k * 2 + 1, 'Customer#' || " +
      "CASE WHEN k % 7 = 0 THEN sub01 WHEN k % 3 = 1 THEN sub0 " +
      "WHEN k % 3 = 2 THEN del0 ELSE dg END, nat, seg FROM d2), " +
      "rk AS (SELECT rid, name, nat, seg, substr(name, 10, 10) AS key " +
      "FROM recs), " +
      "dk AS (SELECT rid, nat, seg, unnest(list_prepend(key, " +
      "[substr(key, 1, i - 1) || substr(key, i + 1) " +
      "for i in range(1, length(key) + 1)])) AS bk FROM rk), " +
      "cand AS (SELECT DISTINCT a.rid AS id_a, b.rid AS id_b " +
      "FROM dk a JOIN dk b ON a.bk = b.bk AND a.nat = b.nat " +
      "AND a.seg = b.seg AND a.rid < b.rid), " +
      "ver AS (SELECT id_a, id_b FROM cand " +
      "JOIN rk ra ON id_a = ra.rid JOIN rk rb ON id_b = rb.rid " +
      s"WHERE $verifySql), " +
      "sym AS (SELECT id_a AS u, id_b AS v FROM ver " +
      "UNION SELECT id_b, id_a FROM ver), " +
      "reach AS (SELECT rid AS node, rid AS r FROM rk " +
      "UNION SELECT sym.v AS node, reach.r FROM reach " +
      "JOIN sym ON sym.u = reach.node), " +
      "comp AS (SELECT node, min(r) AS entity FROM reach " +
      "GROUP BY node), " +
      "lab AS (SELECT rk.rid, rk.name, rk.key, rk.nat, rk.seg, " +
      "comp.entity FROM rk JOIN comp ON rk.rid = comp.node)"

  private val entityCtes: String =
    entityCtesWith("levenshtein(ra.name, rb.name) <= 1")

  /** Digit `p` (0-based) of the digit string `dg`, bumped by one mod
    * 10 — the entity fixtures' substitution typo. */
  private def subAt(dg: org.apache.spark.sql.Column,
      p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(dg.substr(lit(1), p),
      ((dg.substr(p + 1, lit(1)).cast("int") + 1) % 10).cast("string"),
      dg.substr(p + 2, lit(9)))

  /** `dg` with digit `p` (0-based) deleted — the deletion typo. */
  private def delAt(dg: org.apache.spark.sql.Column,
      p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(dg.substr(lit(1), p), dg.substr(p + 2, lit(9)))

  /** The dirty twin's name digits over the fixture columns (k, dg,
    * p0, p1): two substitutions when k % 7 = 0, else one substitution
    * (k % 3 = 1), one deletion (k % 3 = 2) or none. */
  private def dirtyDigits: org.apache.spark.sql.Column = {
    val sub0 = subAt(col("dg"), col("p0"))
    when(col("k") % 7 === 0, subAt(sub0, col("p1")))
      .when(col("k") % 3 === 1, sub0)
      .when(col("k") % 3 === 2, delAt(col("dg"), col("p0")))
      .otherwise(col("dg"))
  }

  /** The entity family's dirty-customer fixture (described at
    * q_dedup_entity): every customer's clean record (rid 2k) and its
    * dirty twin (rid 2k + 1), as (rid, name, nat, seg, key). */
  private[graft] def dirtyCustomers(s: SparkSession, d: String): DataFrame = {
    val base = s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        substring(col("c_name"), 10, 9).as("dg"),
        (col("c_custkey") % 9).cast("int").as("p0"),
        ((col("c_custkey") % 9 + 3) % 9).cast("int").as("p1"))
    base.select((col("k") * 2).as("rid"),
        col("c_name").as("name"), col("nat"), col("seg"))
      .unionByName(base.select((col("k") * 2 + 1).as("rid"),
        concat(lit("Customer#"), dirtyDigits).as("name"),
        col("nat"), col("seg")))
      .withColumn("key", substring(col("name"), 10, 10))
  }

  private val dedupEntity = Q("q_dedup_entity",
    (s, d) => {
      val rec = dirtyCustomers(s, d)
      val resolved = graft.ops.Entity.resolve(rec, "rid", "key",
        "name", Seq("nat", "seg"), tau = 1)
      val pe = resolved.groupBy(col("seg"), col("entity"))
        .agg(count(lit(1)).as("sz"),
          sum(pmod(col("entity") * 131L + col("rid"),
            lit(CleanSumMod))).as("dsum"))
      pe.groupBy("seg")
        .agg(sum(col("sz")).as("n_records"),
          count(lit(1)).as("n_entities"),
          max(col("sz")).as("max_entity"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_merged"),
          sum(col("dsum")).as("entity_digest"))
        .orderBy("seg")
    },
    s"WITH RECURSIVE $entityCtes, " +
      "pe AS (SELECT seg, entity, count(*) AS sz, " +
      s"sum((entity * 131 + rid) % $CleanSumMod) AS dsum " +
      "FROM lab GROUP BY seg, entity) " +
      "SELECT seg, CAST(sum(sz) AS BIGINT) AS n_records, " +
      "count(*) AS n_entities, CAST(max(sz) AS BIGINT) AS max_entity, " +
      "CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT) " +
      "AS n_merged, CAST(sum(dsum) AS BIGINT) AS entity_digest " +
      "FROM pe GROUP BY seg ORDER BY seg")

  /** Jaro–Winkler similarity grading over the entity family's typo
    * fixture ([[graft.ops.StringSim.jaroWinklerCol]] — the classic
    * record-linkage comparator, Winkler 1990): the SAME planted
    * clean/dirty name pairs q_dedup_entity resolves with a hard
    * Levenshtein budget, here GRADED by the similarity a linkage
    * scorer would threshold (prefix-boosted, so the shared
    * "Customer#" head lifts every pair — exactly why real linkage
    * pipelines pair JW with blocking). The kernel is codegen'd and
    * bit-exact to DuckDB's `jaro_winkler_similarity` (RapidFuzz
    * semantics: empty → 0, window = max(len)/2 − 1, boost only above
    * 0.7 — fuzz-verified on 28k pairs at dev time, hash-pinned per
    * row here). Scores are floor-quantized to 1e-6 BEFORE any
    * aggregate (identical doubles ⇒ identical quanta; integer sums
    * are order-independent). One map pass + one aggregate; names
    * never shuffle. */
  private val dedupJaroWinkler = Q("q_dedup_jarowinkler",
    (s, d) => {
      val base = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name"),
          col("c_mktsegment").as("seg"),
          substring(col("c_name"), 10, 9).as("dg"),
          (col("c_custkey") % 9).cast("int").as("p0"),
          ((col("c_custkey") % 9 + 3) % 9).cast("int").as("p1"))
      val pairs = base.select(col("seg"), col("c_name").as("clean"),
        concat(lit("Customer#"), dirtyDigits).as("dirty"))
      // computeOnce: four aggregate expressions read jwq, and a
      // collapsed projection would re-run the JW kernel per read
      pairs
        .select(col("seg"),
          graft.ops.PlanHints.computeOnce(floor(
            graft.ops.StringSim.jaroWinklerCol(col("clean"), col("dirty"))
              * lit(1000000.0) + lit(0.5))).as("jwq"),
          levenshtein(col("clean"), col("dirty")).as("lev"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jwq") === 1000000L, 1L).otherwise(0L))
            .as("n_exact"),
          sum(when(col("jwq") >= 950000L, 1L).otherwise(0L))
            .as("n_ge95"),
          sum(when(col("jwq") >= 900000L, 1L).otherwise(0L))
            .as("n_ge90"),
          sum(col("jwq")).as("jw_qsum"),
          min(col("jwq")).as("jw_qmin"),
          sum(col("lev").cast("long")).as("lev_sum"))
        .orderBy("seg")
    },
    s"WITH RECURSIVE $entityCtes, " +
      "prs AS (SELECT k, seg, c_name AS clean, 'Customer#' || " +
      "CASE WHEN k % 7 = 0 THEN sub01 WHEN k % 3 = 1 THEN sub0 " +
      "WHEN k % 3 = 2 THEN del0 ELSE dg END AS dirty FROM d2), " +
      "q AS (SELECT seg, CAST(floor(" +
      "jaro_winkler_similarity(clean, dirty) * 1000000.0 + 0.5) " +
      "AS BIGINT) AS jwq, levenshtein(clean, dirty) AS lev FROM prs) " +
      "SELECT seg, count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN jwq = 1000000 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_exact, " +
      "CAST(sum(CASE WHEN jwq >= 950000 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_ge95, " +
      "CAST(sum(CASE WHEN jwq >= 900000 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_ge90, " +
      "CAST(sum(jwq) AS BIGINT) AS jw_qsum, min(jwq) AS jw_qmin, " +
      "CAST(sum(lev) AS BIGINT) AS lev_sum " +
      "FROM q GROUP BY seg ORDER BY seg")

  /** Entity resolution with a GRADED verify ([[graft.ops.Entity
    * .resolveWith]] + [[graft.ops.StringSim.jaroWinklerCol]] ≥ 0.97):
    * the same deletion-1 blocking and closure as q_dedup_entity, but
    * candidates are accepted by the Jaro–Winkler score instead of a
    * hard edit budget — the form real linkage pipelines ship (cheap
    * structural blocking, similarity-thresholded scoring). On this
    * fixture the 0.97 bar admits single-substitution and deletion
    * twins (~0.978 / ~0.989 on 18-char names with the shared
    * "Cust" prefix boost) while leaving most double-substitution
    * accidentals below it — a DIFFERENT entity partition from the
    * τ = 1 resolver, pinned row for row by the oracle replaying the
    * same blocking + its own jaro_winkler_similarity + closure. */
  private val dedupEntityJw = Q("q_dedup_entity_jw",
    (s, d) => {
      val rec = dirtyCustomers(s, d)
      // floor-quantize the score BEFORE thresholding (the
      // q_dedup_jarowinkler discipline): the accept decision then
      // depends on the 1e-6 quantum, not the last ulp of two
      // independent JW implementations at the threshold boundary
      val resolved = graft.ops.Entity.resolveWith(rec, "rid", "key",
        "name", Seq("nat", "seg"), blockK = 1,
        (a, b) => floor(graft.ops.StringSim.jaroWinklerCol(a, b)
          * lit(1000000.0) + lit(0.5)) >= lit(970000L))
      val pe = resolved.groupBy(col("seg"), col("entity"))
        .agg(count(lit(1)).as("sz"),
          sum(pmod(col("entity") * 131L + col("rid"),
            lit(CleanSumMod))).as("dsum"))
      pe.groupBy("seg")
        .agg(sum(col("sz")).as("n_records"),
          count(lit(1)).as("n_entities"),
          max(col("sz")).as("max_entity"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_merged"),
          sum(col("dsum")).as("entity_digest"))
        .orderBy("seg")
    },
    "WITH RECURSIVE " +
      entityCtesWith("floor(jaro_winkler_similarity(ra.name, rb.name)" +
        " * 1000000.0 + 0.5) >= 970000") + ", " +
      "pe AS (SELECT seg, entity, count(*) AS sz, " +
      s"sum((entity * 131 + rid) % $CleanSumMod) AS dsum " +
      "FROM lab GROUP BY seg, entity) " +
      "SELECT seg, CAST(sum(sz) AS BIGINT) AS n_records, " +
      "count(*) AS n_entities, CAST(max(sz) AS BIGINT) AS max_entity, " +
      "CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT) " +
      "AS n_merged, CAST(sum(dsum) AS BIGINT) AS entity_digest " +
      "FROM pe GROUP BY seg ORDER BY seg")

  /** Steady-state entity resolution ([[graft.ops.Entity
    * .resolveAgainst]]): arrivals probe the RESOLVED archive's
    * deletion-neighborhood index ([[graft.ops.Entity.archiveIndex]])
    * and take the minimum verified archive entity, or stay fresh —
    * the archive never self-joins again (the incremental-dedup
    * discipline), and each arrival's label depends only on itself
    * and the static index (left join + keyed aggregate; see
    * EntitySpec's batch-split invariance row). Fixture: every 5th
    * customer sends a THIRD record typo'd at a fresh position
    * (matches its archived entity through either archived twin);
    * every (5k+3)rd sends a record whose key leads with 'XX' — lev
    * ≥ 2 from every all-digit archive key, the must-stay-fresh
    * control. The oracle replays the archive closure (shared CTEs),
    * the index explode, and the probe, pinning every arrival's
    * entity in the digest. */
  private val dedupEntityIncremental = Q("q_dedup_entity_incremental",
    (s, d) => {
      val base = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          substring(col("c_name"), 10, 9).as("dg"),
          (col("c_custkey") % 9).cast("int").as("p0"),
          ((col("c_custkey") % 9 + 3) % 9).cast("int").as("p1"),
          ((col("c_custkey") % 9 + 5) % 9).cast("int").as("p2"))
      val rec = base.select((col("k") * 2).as("rid"),
          col("c_name").as("name"), col("nat"), col("seg"))
        .unionByName(base.select((col("k") * 2 + 1).as("rid"),
          concat(lit("Customer#"), dirtyDigits).as("name"),
          col("nat"), col("seg")))
        .withColumn("key", substring(col("name"), 10, 10))
      val resolved = graft.ops.Entity.resolve(rec, "rid", "key",
        "name", Seq("nat", "seg"), tau = 1)
      val index = graft.ops.Entity.archiveIndex(resolved, "key",
        "name", Seq("nat", "seg"))
      val arrivals = base
        .where(col("k") % 5 === 0 || col("k") % 5 === 3)
        .select((col("k") * 2 + 1000000000L).as("rid"),
          concat(lit("Customer#"),
            when(col("k") % 5 === 0, subAt(col("dg"), col("p2")))
              .otherwise(concat(lit("XX"),
                col("dg").substr(lit(3), lit(9))))).as("name"),
          col("nat"), col("seg"))
        .withColumn("key", substring(col("name"), 10, 10))
      graft.ops.Entity.resolveAgainst(index, arrivals, "rid", "key",
          "name", Seq("nat", "seg"), tau = 1, keep = Seq("seg"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_arrivals"),
          sum(when(col("entity") =!= col("rid"), 1L).otherwise(0L))
            .as("n_matched"),
          sum(pmod(col("entity") * 131L + col("rid"),
            lit(CleanSumMod))).as("arrival_digest"))
        .orderBy("seg")
    },
    s"WITH RECURSIVE $entityCtes, " +
      "arr AS (SELECT k * 2 + 1000000000 AS rid, 'Customer#' || " +
      "CASE WHEN k % 5 = 0 THEN subp2 " +
      "ELSE 'XX' || substr(dg, 3) END AS name, nat, seg FROM d2 " +
      "WHERE k % 5 = 0 OR k % 5 = 3), " +
      "ark AS (SELECT rid, name, nat, seg, " +
      "substr(name, 10, 10) AS key FROM arr), " +
      "idx AS (SELECT nat, seg, name, entity, " +
      "unnest(list_prepend(key, [substr(key, 1, i - 1) || " +
      "substr(key, i + 1) for i in range(1, length(key) + 1)])) " +
      "AS bk FROM lab), " +
      "adk AS (SELECT rid, name, nat, seg, " +
      "unnest(list_prepend(key, [substr(key, 1, i - 1) || " +
      "substr(key, i + 1) for i in range(1, length(key) + 1)])) " +
      "AS bk FROM ark), " +
      "probe AS (SELECT a.rid, a.seg, " +
      "min(CASE WHEN levenshtein(a.name, i.name) <= 1 " +
      "THEN i.entity END) AS m FROM adk a LEFT JOIN idx i " +
      "ON a.bk = i.bk AND a.nat = i.nat AND a.seg = i.seg " +
      "GROUP BY a.rid, a.seg) " +
      "SELECT seg, count(*) AS n_arrivals, " +
      "CAST(sum(CASE WHEN m IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_matched, " +
      s"CAST(sum((coalesce(m, rid) * 131 + rid) % $CleanSumMod) " +
      "AS BIGINT) AS arrival_digest " +
      "FROM probe GROUP BY seg ORDER BY seg")

  /** Entity-resolution quality harness (the q_dedup_lsh_recall
    * discipline applied to record linkage): the fixture KNOWS the
    * ground truth — every clean/dirty twin with ≤ 1 planted edit is
    * an intended match, every double-substitution twin is not — so
    * recall is measurable, not asserted. The FastSS blocking
    * guarantee (a lev ≤ 1 pair ALWAYS shares a deletion-neighborhood
    * key) plus the exact verify make intended-pair recall exactly
    * 100%, and the oracle COMPUTES that from its own replay rather
    * than trusting it. `n_accidental` counts double-edit twins that
    * still ended up co-entity — reachable only through transitive
    * chains via third records, a real phenomenon both engines must
    * agree on, not an error. */
  private val dedupEntityQuality = Q("q_dedup_entity_quality",
    (s, d) => {
      val base = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          substring(col("c_name"), 10, 9).as("dg"),
          (col("c_custkey") % 9).cast("int").as("p0"),
          ((col("c_custkey") % 9 + 3) % 9).cast("int").as("p1"))
      val rec = base.select((col("k") * 2).as("rid"),
          col("c_name").as("name"), col("nat"), col("seg"))
        .unionByName(base.select((col("k") * 2 + 1).as("rid"),
          concat(lit("Customer#"), dirtyDigits).as("name"),
          col("nat"), col("seg")))
        .withColumn("key", substring(col("name"), 10, 10))
      // persisted narrow (rid, entity) map: it feeds BOTH the clean-
      // and dirty-side joins — unpersisted, the whole blocking +
      // verify chain upstream of the closure would run twice
      val resolved = graft.core.CacheRegistry.track(
        graft.ops.Entity.resolve(rec, "rid", "key",
          "name", Seq("nat", "seg"), tau = 1)
        .select("rid", "entity")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pairs = base.select(col("k"),
          (col("k") % 7 =!= 0).as("intended"))
        .join(resolved.select(col("rid").as("__ra"),
          col("entity").as("ea")), col("__ra") === col("k") * 2)
        .join(resolved.select(col("rid").as("__rb"),
          col("entity").as("eb")), col("__rb") === col("k") * 2 + 1)
        .withColumn("merged", col("ea") === col("eb"))
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("intended"), 1L).otherwise(0L)).as("n_intended"),
        sum(when(col("intended") && col("merged"), 1L).otherwise(0L))
          .as("n_merged_intended"),
        round(sum(when(col("intended") && col("merged"), 100.0)
            .otherwise(0.0)) /
          sum(when(col("intended"), 1L).otherwise(0L)), 5)
          .as("recall_pct"),
        sum(when(!col("intended") && col("merged"), 1L).otherwise(0L))
          .as("n_accidental"))
    },
    s"WITH RECURSIVE $entityCtes, " +
      "pl AS (SELECT b.k, " +
      "CASE WHEN b.k % 7 = 0 THEN 0 ELSE 1 END AS intended, " +
      "la.entity AS ea, lb.entity AS eb FROM base b " +
      "JOIN lab la ON la.rid = b.k * 2 " +
      "JOIN lab lb ON lb.rid = b.k * 2 + 1) " +
      "SELECT count(*) AS n_pairs, " +
      "CAST(sum(intended) AS BIGINT) AS n_intended, " +
      "CAST(sum(CASE WHEN intended = 1 AND ea = eb THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_merged_intended, " +
      "round(sum(CASE WHEN intended = 1 AND ea = eb THEN 100.0 " +
      "ELSE 0.0 END) / sum(intended), 5) AS recall_pct, " +
      "CAST(sum(CASE WHEN intended = 0 AND ea = eb THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_accidental FROM pl")

  /** τ = 2 entity resolution ([[graft.ops.Entity.resolve]] with
    * deletion-2 blocking — FastSS at k = 2, Bocek 2007): real
    * dirty-key corpora carry 2-edit typos, and the deletion-≤2
    * neighborhood (1 + L + L(L−1)/2 keys per record, O(L²) but
    * bounded for short keys) keeps the 100%-recall-by-construction
    * guarantee at lev ≤ 2 — the double-substitution twins that are
    * the τ=1 harness's negative control become INTENDED matches
    * here, so every planted clean/dirty pair (lev ∈ {0, 1, 2}) must
    * co-entity: n_pairs_linked == n_pairs is the measured recall
    * line, computed by both engines rather than asserted. Adjacent
    * customer keys within lev 2 in the same (nation, segment) block
    * also merge — genuine transitive chains both engines must agree
    * on, pinned by the digest. The oracle replays the deletion-2
    * neighborhood (nested list comprehension), the lev ≤ 2 verify,
    * and the recursive min-label closure; sym2 is MATERIALIZED so
    * the recursion doesn't re-derive the candidate join per step. */
  private val dedupEntityTau2 = Q("q_dedup_entity_tau2",
    (s, d) => {
      val rec = dirtyCustomers(s, d)
      // narrow (rid, seg, entity) persists: it feeds BOTH the
      // entity-size stats and the planted-pair recall aggregate —
      // unpersisted, the deletion-2 blocking + verify + closure
      // chain would run twice (the quality-harness discipline)
      val resolved = graft.core.CacheRegistry.track(
        graft.ops.Entity.resolve(rec, "rid", "key",
          "name", Seq("nat", "seg"), tau = 2)
        .select("rid", "seg", "entity")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pe = resolved.groupBy(col("seg"), col("entity"))
        .agg(count(lit(1)).as("sz"),
          sum(pmod(col("entity") * 131L + col("rid"),
            lit(CleanSumMod))).as("dsum"))
      val segstats = pe.groupBy("seg")
        .agg(sum(col("sz")).as("n_records"),
          count(lit(1)).as("n_entities"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_merged"),
          sum(col("dsum")).as("entity_digest"))
      val pairstats = resolved
        .withColumn("cid", floor(col("rid") / lit(2)))
        .groupBy(col("seg"), col("cid"))
        .agg((min(col("entity")) === max(col("entity"))).as("linked"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("linked"), 1L).otherwise(0L))
            .as("n_pairs_linked"))
      segstats.join(pairstats, "seg").orderBy("seg")
    },
    s"WITH RECURSIVE $entityCtes, " +
      "dk2 AS (SELECT rid, nat, seg, unnest(list_distinct(" +
      "list_prepend(key, " +
      "[substr(key, 1, i - 1) || substr(key, i + 1) " +
      "for i in range(1, length(key) + 1)] || " +
      "flatten([[substr(key, 1, i - 1) || " +
      "substr(key, i + 1, j - i - 1) || substr(key, j + 1) " +
      "for j in range(i + 1, length(key) + 1)] " +
      "for i in range(1, length(key))])))) AS bk FROM rk), " +
      "cand2 AS (SELECT DISTINCT a.rid AS id_a, b.rid AS id_b " +
      "FROM dk2 a JOIN dk2 b ON a.bk = b.bk AND a.nat = b.nat " +
      "AND a.seg = b.seg AND a.rid < b.rid), " +
      "ver2 AS (SELECT id_a, id_b FROM cand2 " +
      "JOIN rk ra ON id_a = ra.rid JOIN rk rb ON id_b = rb.rid " +
      "WHERE levenshtein(ra.name, rb.name) <= 2), " +
      "sym2 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM ver2 " +
      "UNION SELECT id_b, id_a FROM ver2), " +
      "reach2 AS (SELECT rid AS node, rid AS r FROM rk " +
      "UNION SELECT sym2.v AS node, reach2.r FROM reach2 " +
      "JOIN sym2 ON sym2.u = reach2.node), " +
      "comp2 AS (SELECT node, min(r) AS entity FROM reach2 " +
      "GROUP BY node), " +
      "lab2 AS (SELECT rk.rid, rk.seg, comp2.entity FROM rk " +
      "JOIN comp2 ON rk.rid = comp2.node), " +
      "pe AS (SELECT seg, entity, count(*) AS sz, " +
      s"sum((entity * 131 + rid) % $CleanSumMod) AS dsum " +
      "FROM lab2 GROUP BY seg, entity), " +
      "ss AS (SELECT seg, CAST(sum(sz) AS BIGINT) AS n_records, " +
      "count(*) AS n_entities, " +
      "CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT) " +
      "AS n_merged, CAST(sum(dsum) AS BIGINT) AS entity_digest " +
      "FROM pe GROUP BY seg), " +
      "pr AS (SELECT seg, rid // 2 AS cid, min(entity) AS mn, " +
      "max(entity) AS mx FROM lab2 GROUP BY seg, cid), " +
      "ps AS (SELECT seg, count(*) AS n_pairs, " +
      "CAST(sum(CASE WHEN mn = mx THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_pairs_linked FROM pr GROUP BY seg) " +
      "SELECT ss.seg, ss.n_records, ss.n_entities, ss.n_merged, " +
      "ss.entity_digest, ps.n_pairs, ps.n_pairs_linked " +
      "FROM ss JOIN ps USING (seg) ORDER BY seg")

  /** τ = 2 INCREMENTAL entity resolution over the SPLIT steady-state
    * index (r14 — [[graft.ops.Entity.archiveIndexSplit2]] +
    * [[graft.ops.Entity.archiveRecords]] +
    * [[graft.ops.Entity.resolveAgainstSplit2]]): the archive resolves
    * once at τ = 2, persists the THIN (blocks, hash, rid) index at
    * D≤1 ∪ position-pair tags, and arrivals probe at D≤2 ∪ tags,
    * fetching names per candidate for the same lev ≤ 2 NAME verify
    * as the batch path. Fixture: every 5th customer sends a
    * DOUBLE-SUBSTITUTION record — linkable only through the
    * hamming-2 tag path, which a D-key-only probe would miss — and
    * every (5k+3)rd an 'XXX'-prefixed control at lev ≥ 3 from every
    * all-digit archive key (each X needs its own edit), the
    * must-stay-fresh line. The oracle replays the τ = 2 archive
    * closure, the split key streams (kind-prefixed strings standing
    * in for the kernel hashes), and the probe's min-verified-entity
    * aggregate; the digest pins every arrival's label. */
  private val dedupEntityIncrementalTau2 = Q("q_dedup_entity_incremental_tau2",
    (s, d) => {
      val base = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          substring(col("c_name"), 10, 9).as("dg"),
          (col("c_custkey") % 9).cast("int").as("p0"),
          ((col("c_custkey") % 9 + 3) % 9).cast("int").as("p1"),
          ((col("c_custkey") % 9 + 5) % 9).cast("int").as("p2"),
          ((col("c_custkey") % 9 + 7) % 9).cast("int").as("p3"))
      val rec = base.select((col("k") * 2).as("rid"),
          col("c_name").as("name"), col("nat"), col("seg"))
        .unionByName(base.select((col("k") * 2 + 1).as("rid"),
          concat(lit("Customer#"), dirtyDigits).as("name"),
          col("nat"), col("seg")))
        .withColumn("key", substring(col("name"), 10, 10))
      // pinned: the resolved archive feeds BOTH the split index and
      // the records table — unpinned, each consumer re-runs the rec
      // build + closure join-back (the closure itself is materialized
      // inside connectedComponents, so this pin buys the join-back
      // and parquet re-scans, not the closure)
      val resolved = pin(graft.ops.Entity.resolve(rec, "rid", "key",
        "name", Seq("nat", "seg"), tau = 2)
        .select("rid", "name", "nat", "seg", "key", "entity"))
      val index = graft.ops.Entity.archiveIndexSplit2(resolved, "rid",
        "key", Seq("nat", "seg"))
      val records = graft.ops.Entity.archiveRecords(resolved, "rid", "name")
      val arrivals = base
        .where(col("k") % 5 === 0 || col("k") % 5 === 3)
        .select((col("k") * 2 + 1000000000L).as("rid"),
          concat(lit("Customer#"),
            when(col("k") % 5 === 0,
              subAt(subAt(col("dg"), col("p2")), col("p3")))
              .otherwise(concat(lit("XXX"),
                col("dg").substr(lit(4), lit(9))))).as("name"),
          col("nat"), col("seg"))
        .withColumn("key", substring(col("name"), 10, 10))
      graft.ops.Entity.resolveAgainstSplit2(index, records, arrivals,
          "rid", "key", "name", Seq("nat", "seg"), tau = 2,
          keep = Seq("seg"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_arrivals"),
          sum(when(col("entity") =!= col("rid"), 1L).otherwise(0L))
            .as("n_matched"),
          sum(pmod(col("entity") * 131L + col("rid"),
            lit(CleanSumMod))).as("arrival_digest"))
        .orderBy("seg")
    },
    s"WITH RECURSIVE $entityCtes, " +
      "dk2 AS (SELECT rid, nat, seg, unnest(list_distinct(" +
      "list_prepend(key, " +
      "[substr(key, 1, i - 1) || substr(key, i + 1) " +
      "for i in range(1, length(key) + 1)] || " +
      "flatten([[substr(key, 1, i - 1) || " +
      "substr(key, i + 1, j - i - 1) || substr(key, j + 1) " +
      "for j in range(i + 1, length(key) + 1)] " +
      "for i in range(1, length(key))])))) AS bk FROM rk), " +
      "cand2 AS (SELECT DISTINCT a.rid AS id_a, b.rid AS id_b " +
      "FROM dk2 a JOIN dk2 b ON a.bk = b.bk AND a.nat = b.nat " +
      "AND a.seg = b.seg AND a.rid < b.rid), " +
      "ver2 AS (SELECT id_a, id_b FROM cand2 " +
      "JOIN rk ra ON id_a = ra.rid JOIN rk rb ON id_b = rb.rid " +
      "WHERE levenshtein(ra.name, rb.name) <= 2), " +
      "sym2 AS (SELECT id_a AS u, id_b AS v FROM ver2 " +
      "UNION SELECT id_b, id_a FROM ver2), " +
      "reach2 AS (SELECT rid AS node, rid AS r FROM rk " +
      "UNION SELECT sym2.v AS node, reach2.r FROM reach2 " +
      "JOIN sym2 ON sym2.u = reach2.node), " +
      "comp2 AS (SELECT node, min(r) AS entity FROM reach2 " +
      "GROUP BY node), " +
      "alab AS (SELECT rk.rid, rk.name, rk.key, rk.nat, rk.seg, " +
      "comp2.entity FROM rk JOIN comp2 ON rk.rid = comp2.node), " +
      // arrivals: double-sub at (p2, p3) or the XXX control
      "aa AS (SELECT k, nat, seg, dg, " +
      "CAST((k % 9 + 7) % 9 AS INT) AS p3, " +
      "substr(dg, 1, p2) || " +
      "CAST((CAST(substr(dg, p2 + 1, 1) AS INT) + 1) % 10 AS VARCHAR) " +
      "|| substr(dg, p2 + 2) AS s1 FROM base), " +
      "ab AS (SELECT k, nat, seg, dg, " +
      "substr(s1, 1, p3) || " +
      "CAST((CAST(substr(s1, p3 + 1, 1) AS INT) + 1) % 10 AS VARCHAR) " +
      "|| substr(s1, p3 + 2) AS s2 FROM aa), " +
      "ark AS (SELECT k * 2 + 1000000000 AS rid, nat, seg, " +
      "'Customer#' || CASE WHEN k % 5 = 0 THEN s2 " +
      "ELSE 'XXX' || substr(dg, 4) END AS name FROM ab " +
      "WHERE k % 5 = 0 OR k % 5 = 3), " +
      "ark2 AS (SELECT *, substr(name, 10, 10) AS key FROM ark), " +
      // split key streams: 'd:'-prefixed deletion keys, 't:'-prefixed
      // position-pair tags (string stand-ins for the kernel hashes)
      "apk AS (" +
      "SELECT rid, nat, seg, name, 'd:' || unnest(list_distinct(" +
      "list_prepend(key, " +
      "[substr(key, 1, i - 1) || substr(key, i + 1) " +
      "for i in range(1, length(key) + 1)] || " +
      "flatten([[substr(key, 1, i - 1) || " +
      "substr(key, i + 1, j - i - 1) || substr(key, j + 1) " +
      "for j in range(i + 1, length(key) + 1)] " +
      "for i in range(1, length(key))])))) AS bk FROM ark2 " +
      "UNION ALL " +
      "SELECT rid, nat, seg, name, unnest(" +
      "flatten([['t:' || i || ':' || j || ':' || " +
      "substr(key, 1, i - 1) || substr(key, i + 1, j - i - 1) || " +
      "substr(key, j + 1) " +
      "for j in range(i + 1, length(key) + 1)] " +
      "for i in range(1, length(key))])) AS bk FROM ark2), " +
      "aik AS (" +
      "SELECT nat, seg, name, entity, 'd:' || unnest(list_distinct(" +
      "list_prepend(key, [substr(key, 1, i - 1) || substr(key, i + 1) " +
      "for i in range(1, length(key) + 1)]))) AS bk FROM alab " +
      "UNION ALL " +
      "SELECT nat, seg, name, entity, unnest(" +
      "flatten([['t:' || i || ':' || j || ':' || " +
      "substr(key, 1, i - 1) || substr(key, i + 1, j - i - 1) || " +
      "substr(key, j + 1) " +
      "for j in range(i + 1, length(key) + 1)] " +
      "for i in range(1, length(key))])) AS bk FROM alab), " +
      "probe AS (SELECT a.rid, a.seg, " +
      "min(CASE WHEN levenshtein(a.name, i.name) <= 2 " +
      "THEN i.entity END) AS m FROM apk a LEFT JOIN aik i " +
      "ON a.bk = i.bk AND a.nat = i.nat AND a.seg = i.seg " +
      "GROUP BY a.rid, a.seg) " +
      "SELECT seg, count(*) AS n_arrivals, " +
      "CAST(sum(CASE WHEN m IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_matched, " +
      s"CAST(sum((coalesce(m, rid) * 131 + rid) % $CleanSumMod) " +
      "AS BIGINT) AS arrival_digest " +
      "FROM probe GROUP BY seg ORDER BY seg")

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
  private val CrossN = 5
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

  /** Population stability index of the quality-score distribution,
    * each source against the `src0` reference — the standard ML-ops
    * drift gate ("has this source's quality profile moved"). Decile
    * buckets cut on the pure-IEEE score (engine-exact), +1 smoothing
    * over the FULL 10-bucket grid (absent cells materialized — a
    * missing row would silently skip its smoothed term), per-cell
    * (p−q)·ln(p/q) quantized to 2⁻³⁰ int64 via the guard-banded
    * floor(y + 0.5) (see q_stats_mi), so the sum is exact and clean
    * term values (0 above all — PSI(src0) ≡ 0 is a free self-check
    * row) sit half a quantum away from the nearest boundary. */
  private val PsiRef = "src0"
  private val PsiFx = 1073741824.0 // 2^30
  private val statsPsi = Q("q_stats_psi",
    (s, d) => {
      val bCol = least(floor(TextAnalysis.qualityScore(col("text"))
        * 10).cast("int"), lit(9))
      val cells = docs(s, d).select(col("source"), bCol.as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("c"))
      val grid = cells.select("source").distinct()
        .crossJoin(broadcast(s.range(0, 10)
          .select(col("id").cast("int").as("b"))))
      val full = grid.join(cells, Seq("source", "b"), "left")
        .na.fill(0L, Seq("c"))
      val ns = full.groupBy("source").agg(sum(col("c")).as("n"))
      val withN = full.join(ns, "source")
      val ref = withN.where(col("source") === PsiRef)
        .select(col("b"), col("c").as("cr"), col("n").as("nr"))
      val p = (col("c") + lit(1.0)) / (col("n") + lit(10)).cast("double")
      val q = (col("cr") + lit(1.0)) /
        (col("nr") + lit(10)).cast("double")
      val fp = floor((p - q) * log(p / q) * lit(PsiFx) + lit(0.5))
        .cast("long")
      withN.join(ref, "b")
        .select(col("source"), col("n"), fp.as("fp"))
        .groupBy("source", "n")
        .agg(round(sum(col("fp")).cast("double") / lit(PsiFx), 5)
          .as("psi"))
        .select(col("source"), col("n").as("n_docs"), col("psi"))
        .orderBy("source")
    }, {
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE " +
        "/ greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, " +
        s"1.0) + 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), " +
        "0.0), 1.0)"
      "WITH t0 AS (SELECT source, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"tb AS (SELECT source, least(CAST(floor(($qs) * 10) AS INT), " +
        "9) AS b FROM t0), " +
        "cells AS (SELECT source, b, count(*) AS c FROM tb " +
        "GROUP BY 1, 2), " +
        "grid AS (SELECT s.source, r.b FROM " +
        "(SELECT DISTINCT source FROM documents) s CROSS JOIN " +
        "(SELECT CAST(unnest(range(0, 10)) AS INT) AS b) r), " +
        "fl AS (SELECT grid.source, grid.b, COALESCE(cells.c, 0) AS c " +
        "FROM grid LEFT JOIN cells USING (source, b)), " +
        "ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM fl " +
        "GROUP BY source), " +
        "wn AS (SELECT fl.source, fl.b, fl.c, ns.n FROM fl " +
        "JOIN ns USING (source)), " +
        s"ref AS (SELECT b, c AS cr, n AS nr FROM wn " +
        s"WHERE source = '$PsiRef'), " +
        "f AS (SELECT wn.source, wn.n, " +
        "CAST(floor(((wn.c + 1.0) / CAST(wn.n + 10 AS DOUBLE) - " +
        "(ref.cr + 1.0) / CAST(ref.nr + 10 AS DOUBLE)) * " +
        "ln(((wn.c + 1.0) / CAST(wn.n + 10 AS DOUBLE)) / " +
        "((ref.cr + 1.0) / CAST(ref.nr + 10 AS DOUBLE))) * " +
        s"$PsiFx + 0.5) AS BIGINT) AS fp FROM wn JOIN ref USING (b)) " +
        "SELECT source, n AS n_docs, " +
        s"round(CAST(sum(fp) AS DOUBLE) / $PsiFx, 5) AS psi " +
        "FROM f GROUP BY source, n ORDER BY source"
    })

  /** Decontaminated eval split: hold out the top hash-fraction decile
    * as eval CANDIDATES, then keep only candidates sharing NO 5-gram
    * fingerprint with the train side — the contamination-safe
    * held-out set (the q_text_contamination concern, applied at
    * split time instead of audit time). Scale shape: fingerprints
    * aggregate once to the distinct-fp grain; the leak check is a
    * semi-join and the safe set an anti-join, both on post-agg 45-bit
    * keys; sub-5-token docs carry no fingerprints and are safe by
    * definition on both engines. */
  private val EvalFrac = 0.9
  private val sampleEvalsafe = Q("q_sample_evalsafe",
    (s, d) => {
      val d0 = docs(s, d)
      val isEval = Sampling.hashFraction(col("doc_id")) >= EvalFrac
      val fps = d0.select(col("doc_id"), isEval.as("ev"),
        explode(graft.ops.TextHashExpressions
          .ngramFps(col("text"), CrossN)).as("g"))
      val trainFps = fps.where(!col("ev")).select("g").distinct()
      val leaky = fps.where(col("ev"))
        .join(trainFps, Seq("g"), "left_semi")
        .select("doc_id").distinct()
      val evalDocs = d0.where(isEval).select("doc_id", "source")
      val safe = evalDocs.join(leaky, Seq("doc_id"), "left_anti")
      evalDocs.groupBy("source").agg(count(lit(1)).as("n_eval"))
        .join(safe.groupBy("source").agg(count(lit(1)).as("n_safe"),
          sum(pmod(col("doc_id"), lit(CleanSumMod))).as("safe_digest")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_safe", "safe_digest"))
        .select(col("source"), col("n_eval"),
          (col("n_eval") - col("n_safe")).as("n_leaky"),
          col("n_safe"), col("safe_digest"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      val chain = (1 until CrossN).foldLeft("hl[i]") { (acc, k) =>
        s"($acc * 31 + hl[i+$k]) % $M"
      }
      s"WITH t AS (SELECT doc_id, source, " +
        s"(${Sampling.HashFractionSql("doc_id")} >= $EvalFrac) AS ev, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"fps AS (SELECT doc_id, ev, unnest(list_distinct([$chain " +
        s"for i in range(1, len(hl) - ${CrossN - 2})])) AS g FROM t), " +
        "tr AS (SELECT DISTINCT g FROM fps WHERE NOT ev), " +
        "lk AS (SELECT DISTINCT doc_id FROM fps WHERE ev " +
        "AND g IN (SELECT g FROM tr)), " +
        "ed AS (SELECT doc_id, source FROM t WHERE ev), " +
        "safe AS (SELECT ed.doc_id, ed.source FROM ed " +
        "WHERE ed.doc_id NOT IN (SELECT doc_id FROM lk)), " +
        "se AS (SELECT source, count(*) AS n_safe, " +
        s"CAST(sum(doc_id % $CleanSumMod) AS BIGINT) AS safe_digest " +
        "FROM safe GROUP BY source) " +
        "SELECT ed.source, count(*) AS n_eval, " +
        "count(*) - COALESCE(max(se.n_safe), 0) AS n_leaky, " +
        "COALESCE(max(se.n_safe), 0) AS n_safe, " +
        "COALESCE(max(se.safe_digest), 0) AS safe_digest " +
        "FROM ed LEFT JOIN se USING (source) " +
        "GROUP BY ed.source ORDER BY ed.source"
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

  /** Portable HyperLogLog over the corpus's trigram-fingerprint
    * stream: integer register stats (n_seen, sum_rho) pin the sketch
    * exactly; the estimate and the exact distinct count ride along
    * for the accuracy story. */
  private val sketchHll = Q("q_sketch_hll",
    (s, d) => {
      val d0 = docs(s, d)
      // native one-pass kernel (per-doc DISTINCT grams) — the
      // composable fold re-runs the md5 transform per window when
      // Catalyst collapses the projections (quadratic per doc)
      val grams = d0.select(explode(
        graft.ops.TextHashExpressions.ngramFps(col("text"), 3)).as("g"))
      graft.ops.Sketches.hllCardinality(grams, col("g"))
        .crossJoin(grams.agg(countDistinct(col("g")).as("n_exact")))
        .select(round(col("hll_estimate"), 5).as("hll_estimate"),
          col("n_seen"), col("sum_rho"), col("n_exact"))
    }, {
      val M = Dedup.NgramFpMod
      val g3 = s"[((hl[i] * 31 + hl[i+1]) % $M * 31 + hl[i+2]) % $M " +
        "for i in range(1, len(hl) - 1)]"
      s"WITH t AS (SELECT [${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"g AS (SELECT unnest(list_distinct($g3)) AS g FROM t), " +
        s"hll AS (${graft.ops.Sketches.hllSql("g", "g")}), " +
        "ex AS (SELECT count(DISTINCT g) AS n_exact FROM g) " +
        "SELECT round(hll.hll_estimate, 5) AS hll_estimate, hll.n_seen, " +
        "hll.sum_rho, ex.n_exact FROM hll CROSS JOIN ex"
    })

  /** Portable Count-Min sketch over the per-doc-distinct trigram
    * stream (cell counts are document frequencies): the cell table
    * and the integer point-query estimates (probed on the
    * deterministic g ≡ 0 mod 101 gram subset) match DuckDB exactly —
    * CMS never underestimates, so est = exact tightness is counted
    * outright. */
  /** Histogram quantile sketch over doc length: [0, 640) in 64
    * ten-char buckets, interpolated p50/p90/p99 plus the integer
    * (n, Σb·cnt) pair that pins the register table itself. */
  private val sketchQuantile = Q("q_sketch_quantile",
    (s, d) => graft.ops.Sketches.histogramQuantiles(docs(s, d),
      col("n_chars").cast("double"), lo = 0.0, hi = 640.0, nBuckets = 64,
      qs = Seq(0.5, 0.9, 0.99)),
    {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      s"WITH h AS (SELECT ${BucketSql("n_chars", 0.0, 640.0, 64)} AS b " +
        "FROM documents), " +
        "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
        "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER () AS n, sum(b * cnt) OVER () AS checksum FROM hist) " +
        "SELECT CAST(max(n) AS BIGINT) AS n, " +
        "CAST(max(checksum) AS BIGINT) AS checksum, " +
        s"${QuantileSql(0.5, 0.0, 640.0, 64)} AS p50, " +
        s"${QuantileSql(0.9, 0.0, 640.0, 64)} AS p90, " +
        s"${QuantileSql(0.99, 0.0, 640.0, 64)} AS p99 FROM c"
    })

  /** Per-source distinct-token cardinality via grouped HLL — one
    * sketch per group, register tables pinned exactly. */
  private val sketchHllBy = Q("q_sketch_hll_by",
    (s, d) => {
      val toks = docs(s, d).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      graft.ops.Sketches.hllCardinalityBy(toks, col("source"), col("tok"))
        .select(col("grp").as("source"),
          round(col("hll_estimate"), 5).as("hll_estimate"),
          col("n_seen"), col("sum_rho"))
        .orderBy("source")
    },
    "WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents) " +
      s"SELECT grp AS source, round(hll_estimate, 5) AS hll_estimate, " +
      "n_seen, sum_rho FROM (" +
      graft.ops.Sketches.hllSqlBy("toks", "source", "tok") +
      ") ORDER BY source")

  /** Per-source length quantiles from grouped histograms (the data
    * card's distribution row): the cumulative pass partitions by
    * group over the SKETCH, never the data. */
  private val sketchQuantileBy = Q("q_sketch_quantile_by",
    (s, d) => graft.ops.Sketches.histogramQuantilesBy(docs(s, d),
      col("source"), col("n_chars").cast("double"), lo = 0.0, hi = 640.0,
      nBuckets = 64, qs = Seq(0.5, 0.9))
      .select(col("grp").as("source"), col("n"), col("p50"), col("p90"))
      .orderBy("source"),
    {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      s"WITH h AS (SELECT source, ${BucketSql("n_chars", 0.0, 640.0, 64)} " +
        "AS b FROM documents), " +
        "hist AS (SELECT source, b, count(*) AS cnt FROM h GROUP BY 1, 2), " +
        "c AS (SELECT source, b, cnt, sum(cnt) OVER (PARTITION BY source " +
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(cnt) OVER (PARTITION BY source) AS n FROM hist) " +
        "SELECT source, CAST(max(n) AS BIGINT) AS n, " +
        s"${QuantileSql(0.5, 0.0, 640.0, 64)} AS p50, " +
        s"${QuantileSql(0.9, 0.0, 640.0, 64)} AS p90 " +
        "FROM c GROUP BY source ORDER BY source"
    })

  private val sketchCms = Q("q_sketch_cms",
    (s, d) => {
      val d0 = docs(s, d)
      // native one-pass kernel (per-doc DISTINCT grams) — the
      // composable fold re-runs the md5 transform per window when
      // Catalyst collapses the projections (quadratic per doc)
      // deliberately UNPINNED (r14 optimization round): the gram
      // frame has four consumers on paper, but they are identical
      // subtrees that ReuseExchange already deduplicates at runtime —
      // a MEMORY_AND_DISK pin measured SLOWER (1.33 vs 0.97 s
      // isolated min-of-3 at sf0.1), the barrier costing more than
      // the passes it saves (the q_sample_doremi st-frame precedent)
      val grams = d0.select(explode(
        graft.ops.TextHashExpressions.ngramFps(col("text"), 3)).as("g"))
      val sketch = graft.ops.Sketches.cmsBuild(grams, col("g"))
      val probes = grams.where(col("g") % 101 === 0).select("g").distinct()
      val est = graft.ops.Sketches.cmsEstimate(probes, "g", sketch)
      val exact = grams.where(col("g") % 101 === 0)
        .groupBy("g").agg(count(lit(1)).as("n_exact"))
      est.join(exact, "g")
        .agg(count(lit(1)).as("n_probes"),
          sum(col("cms_count")).as("sum_est"),
          sum(col("n_exact")).as("sum_exact"),
          sum(when(col("cms_count") === col("n_exact"), 1L).otherwise(0L))
            .as("n_tight"),
          max(col("cms_count") - col("n_exact")).as("max_overest"))
        .crossJoin(sketch.agg(count(lit(1)).as("n_cells"),
          sum(col("cnt")).as("cell_mass")))
    }, {
      val M = Dedup.NgramFpMod
      val P = Dedup.P
      val W = 1024
      val g3 = s"[((hl[i] * 31 + hl[i+1]) % $M * 31 + hl[i+2]) % $M " +
        "for i in range(1, len(hl) - 1)]"
      val probeList = (0 until 4).map(r =>
        s"{'r': $r, 'p': ((${Dedup.MinhashAs(r)} * hp + " +
          s"${Dedup.MinhashBs(r)}) % $P) % $W}").mkString(", ")
      s"WITH t AS (SELECT [${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"gr AS (SELECT unnest(list_distinct($g3)) AS g FROM t), " +
        "hp AS (SELECT g, " +
        s"${TextAnalysis.TokenHashSql("g::VARCHAR")} % $P AS hp FROM gr), " +
        s"occ AS (SELECT unnest([$probeList]) AS u FROM hp), " +
        "sk AS (SELECT u.r AS r, u.p AS p, count(*) AS cnt FROM occ " +
        "GROUP BY u.r, u.p), " +
        "pk AS (SELECT DISTINCT g FROM gr WHERE g % 101 = 0), " +
        "php AS (SELECT g, " +
        s"${TextAnalysis.TokenHashSql("g::VARCHAR")} % $P AS hp FROM pk), " +
        "pocc AS (SELECT g, u.r AS r, u.p AS p FROM " +
        s"(SELECT g, unnest([$probeList]) AS u FROM php)), " +
        "pest AS (SELECT g, min(COALESCE(sk.cnt, 0)) AS est FROM pocc " +
        "LEFT JOIN sk USING (r, p) GROUP BY g), " +
        "ex AS (SELECT g, count(*) AS n_exact FROM gr WHERE g % 101 = 0 " +
        "GROUP BY g), " +
        "j AS (SELECT pest.g, pest.est, ex.n_exact FROM pest " +
        "JOIN ex USING (g)), " +
        "agg AS (SELECT count(*) AS n_probes, " +
        "CAST(sum(est) AS BIGINT) AS sum_est, " +
        "CAST(sum(n_exact) AS BIGINT) AS sum_exact, " +
        "CAST(sum(CASE WHEN est = n_exact THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_tight, " +
        "CAST(max(est - n_exact) AS BIGINT) AS max_overest FROM j), " +
        "cs AS (SELECT count(*) AS n_cells, " +
        "CAST(sum(cnt) AS BIGINT) AS cell_mass FROM sk) " +
        "SELECT agg.*, cs.* FROM agg CROSS JOIN cs"
    })

  /** AMS join-size estimation ([[graft.ops.Sketches.amsJoinSize]],
    * AGMS 1999): the equi-join cardinality |A ⋈ B| = Σ_k fA(k)·fB(k)
    * estimated from the inner product of the two sides' AMS sketches
    * — two linear scans, ≤ depth×width integer cells per side, no
    * join executed. THE planner question at 100 TB (broadcast vs
    * shuffle vs skew plan), answered before paying for the join.
    * Fixture: lineitem-by-supplier vs its high-quantity slice — both
    * sides genuine multisets, so the answer is not just |A|. The
    * exact calibration companion uses the identity |A ⋈ B| =
    * Σ_k cntA(k)·cntB(k): two KEY-GRAIN count aggregates and a
    * distinct-key-grain join — the row-level join whose size the
    * sketch predicts is NEVER executed (a ~10⁸-row intermediate at
    * sf0.1, unbounded at corpus scale), yet the companion stays
    * bit-exact at every gate scale. The oracle rebuilds both
    * sketches cell for cell from the shared hash constants, takes
    * the same zero-filled median-of-inner-products, AND computes the
    * same key-grain exact count; estimate, exact, and their ratio
    * all pin bit-exactly (integer cells, one terminal division). */
  private val statsJoinSize = Q("q_stats_joinsize",
    (s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val a = li.select(col("l_suppkey").as("k"))
      val b = li.where(col("l_quantity") > 30.0)
        .select(col("l_suppkey").as("k"))
      val skA = graft.ops.Sketches.amsBuild(a, col("k"))
      val skB = graft.ops.Sketches.amsBuild(b, col("k"))
      val est = graft.ops.Sketches.amsJoinSize(skA, skB)
      val ca = a.groupBy("k").agg(count(lit(1)).as("__na"))
      val cb = b.groupBy("k").agg(count(lit(1)).as("__nb"))
      val exact = ca.join(cb, "k")
        .agg(sum(col("__na") * col("__nb")).as("exact_join"))
      est.crossJoin(exact)
        .select(col("ams_join"), col("exact_join"),
          round(col("ams_join") / col("exact_join").cast("double"), 5)
            .as("ratio"))
    }, {
      val P = Dedup.P
      val W = 64
      def pairList = (0 until 4).map(r =>
        s"{'r': $r, 'p': ((${Dedup.MinhashAs(r)} * hp + " +
          s"${Dedup.MinhashBs(r)}) % $P) % $W, " +
          s"'s': 1 - 2 * (((${Dedup.MinhashAs(4 + r)} * hp + " +
          s"${Dedup.MinhashBs(4 + r)}) % $P) % 2)}").mkString(", ")
      val hashK = TextAnalysis.TokenHashSql("k::VARCHAR")
      s"WITH a AS (SELECT l_suppkey AS k FROM lineitem), " +
        "b AS (SELECT l_suppkey AS k FROM lineitem " +
        "WHERE l_quantity > 30.0), " +
        s"ha AS (SELECT $hashK % $P AS hp FROM a), " +
        s"hb AS (SELECT $hashK % $P AS hp FROM b), " +
        s"occa AS (SELECT unnest([$pairList]) AS u FROM ha), " +
        s"occb AS (SELECT unnest([$pairList]) AS u FROM hb), " +
        "ska AS (SELECT u.r AS r, u.p AS p, " +
        "CAST(sum(u.s) AS BIGINT) AS ca FROM occa GROUP BY 1, 2), " +
        "skb AS (SELECT u.r AS r, u.p AS p, " +
        "CAST(sum(u.s) AS BIGINT) AS cb FROM occb GROUP BY 1, 2), " +
        "ip AS (SELECT ska.r, CAST(sum(ca * cb) AS BIGINT) AS ip " +
        "FROM ska JOIN skb ON ska.r = skb.r AND ska.p = skb.p " +
        "GROUP BY ska.r), " +
        "m AS (SELECT list_sort(list(CAST(COALESCE(ip.ip, 0) AS BIGINT)))" +
        " AS arr FROM range(4) t(r) LEFT JOIN ip USING (r)), " +
        "ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_join FROM " +
        "(SELECT k, count(*) AS na FROM a GROUP BY k) ca JOIN " +
        "(SELECT k, count(*) AS nb FROM b GROUP BY k) cb USING (k)) " +
        "SELECT CAST(arr[2] + arr[3] AS DOUBLE) / 2.0 AS ams_join, " +
        "ex.exact_join AS exact_join, " +
        "round((CAST(arr[2] + arr[3] AS DOUBLE) / 2.0) / " +
        "CAST(ex.exact_join AS DOUBLE), 5) AS ratio " +
        "FROM m CROSS JOIN ex"
    })

  /** AMS / Count sketch F2 estimation
    * ([[graft.ops.Sketches.amsBuild]]/[[graft.ops.Sketches.amsF2]]):
    * signed cells from the same universal-hash family as CMS (upper
    * coefficient rows supply the ±1 signs), so DuckDB rebuilds the
    * cell table cell for cell; the per-row Σ cell² estimates, their
    * median, and the exact F2 = Σ cnt² are all integer-derived and
    * pin bit-exactly. */
  private val sketchAms = Q("q_sketch_ams",
    (s, d) => {
      val grams = docs(s, d).select(explode(
        graft.ops.TextHashExpressions.ngramFps(col("text"), 3)).as("g"))
      val sk = graft.ops.Sketches.amsBuild(grams, col("g"))
      val est = graft.ops.Sketches.amsF2(sk)
      val exact = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt") * col("cnt")).as("exact_f2"))
      sk.agg(count(lit(1)).as("n_cells"), sum(col("cell")).as("sum_cell"),
          sum(abs(col("cell"))).as("sum_abs"))
        .crossJoin(est).crossJoin(exact)
        .select(col("n_cells"), col("sum_cell"), col("sum_abs"),
          col("ams_f2"), col("exact_f2"),
          round(col("ams_f2") / col("exact_f2").cast("double"), 5)
            .as("ratio"))
    }, {
      val M = Dedup.NgramFpMod
      val P = Dedup.P
      val W = 64
      val g3 = s"[((hl[i] * 31 + hl[i+1]) % $M * 31 + hl[i+2]) % $M " +
        "for i in range(1, len(hl) - 1)]"
      val pairList = (0 until 4).map(r =>
        s"{'r': $r, 'p': ((${Dedup.MinhashAs(r)} * hp + " +
          s"${Dedup.MinhashBs(r)}) % $P) % $W, " +
          s"'s': 1 - 2 * (((${Dedup.MinhashAs(4 + r)} * hp + " +
          s"${Dedup.MinhashBs(4 + r)}) % $P) % 2)}").mkString(", ")
      s"WITH t AS (SELECT [${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"gr AS (SELECT unnest(list_distinct($g3)) AS g FROM t), " +
        "hp AS (SELECT g, " +
        s"${TextAnalysis.TokenHashSql("g::VARCHAR")} % $P AS hp FROM gr), " +
        s"occ AS (SELECT unnest([$pairList]) AS u FROM hp), " +
        "sk AS (SELECT u.r AS r, u.p AS p, CAST(sum(u.s) AS BIGINT) " +
        "AS cell FROM occ GROUP BY 1, 2), " +
        "f2 AS (SELECT r, CAST(sum(cell * cell) AS BIGINT) AS f2 " +
        "FROM sk GROUP BY r), " +
        "m AS (SELECT list_sort(list(f2)) AS a FROM f2), " +
        "ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_f2 FROM " +
        "(SELECT g, count(*) AS cnt FROM gr GROUP BY g)) " +
        "SELECT (SELECT count(*) FROM sk) AS n_cells, " +
        "(SELECT CAST(sum(cell) AS BIGINT) FROM sk) AS sum_cell, " +
        "(SELECT CAST(sum(abs(cell)) AS BIGINT) FROM sk) AS sum_abs, " +
        "CAST(a[2] + a[3] AS DOUBLE) / 2.0 AS ams_f2, " +
        "ex.exact_f2 AS exact_f2, " +
        "round((CAST(a[2] + a[3] AS DOUBLE) / 2.0) / " +
        "CAST(ex.exact_f2 AS DOUBLE), 5) AS ratio " +
        "FROM m CROSS JOIN ex"
    })

  // ------------------------------------------------------ text analysis

  private def stopSql(lang: String): String = {
    val lst = TextAnalysis.Stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(ws, w -> list_contains([$lst], w)))"
  }

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
    {
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE / " +
        "greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      "WITH t AS (SELECT lang, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"m AS (SELECT lang, ($punct) AS punct, " +
        s"($stopSum)::DOUBLE / $wc::DOUBLE AS stop, " +
        "least(length(text)::DOUBLE / 200.0, 1.0) AS lenscore FROM t) " +
        "SELECT lang, count(*) AS n, " +
        "round(avg(least(greatest(0.4*lenscore + 0.3*(1.0 - punct) + " +
        "0.3*least(stop*5.0, 1.0), 0.0), 1.0)), 5) AS avg_q, " +
        "round(avg(punct), 5) AS avg_punct, " +
        "round(avg(stop), 5) AS avg_stop " +
        "FROM m GROUP BY lang ORDER BY lang"
    })

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
  /** Chunk-stage CTE block shared by [[textChunks]] and
    * [[pipelineModern]]: over a relation with (doc_id, source,
    * `textExpr`), emits `t`/`c`/`ch` stages producing
    * (doc_id, source, chunk, n_tok) — one rendering of the chunk
    * arithmetic, so the two oracles cannot drift. */
  private def chunkChSql(rel: String, textExpr: String): String =
    s"t AS (SELECT doc_id, source, string_split($textExpr, ' ') AS toks " +
      s"FROM $rel), " +
      "c AS (SELECT doc_id, source, toks, len(toks) AS n, " +
      "unnest(range(0, CAST(floor((greatest(len(toks) - " +
      s"$ChunkWindow, 0) + ${ChunkStride - 1})::DOUBLE / " +
      s"$ChunkStride.0) AS INT) + 1)) AS chunk_id FROM t), " +
      "ch AS (SELECT doc_id, source, " +
      s"array_to_string(list_slice(toks, chunk_id*$ChunkStride + 1, " +
      s"chunk_id*$ChunkStride + $ChunkWindow), ' ') AS chunk, " +
      s"least($ChunkWindow, n - chunk_id*$ChunkStride) AS n_tok FROM c)"

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

  /** Distributed BPE vocabulary induction: the learned merge table
    * (round, pair, merged symbol, weighted pair count) for BpeRounds
    * rounds — the oracle unrolls the SAME rounds as CTE stages, so
    * the whole iterative algorithm (pair counting, argmax
    * tie-breaks, two-pass delimited replace) is pinned end to end. */
  private val BpeRounds = 6
  /** Shared learning CTEs (w0/s0 + p_r/b_r/s_r per round) — the whole
    * iterative algorithm as CTE stages, reused by the merge-table and
    * fertility oracles. */
  private def bpeLearnCtes: String = {
    val D = graft.ops.Bpe.DelimSql
    val head =
      "WITH w0 AS (SELECT tok, count(*) AS freq FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D) GROUP BY tok), " +
        s"s0 AS (SELECT freq, $D || " +
        s"array_to_string(string_split(tok, ''), $D) || $D AS seq FROM w0)"
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"s${r - 1}"
      s"p$r AS (SELECT u.a AS a, u.b AS b, sum(freq) AS c FROM (" +
        "SELECT freq, unnest([{'a': l[i], 'b': l[i+1]} " +
        "for i in range(1, len(l))]) AS u FROM (" +
        s"SELECT freq, string_split(trim(seq, $D), $D) AS l " +
        s"FROM $prev)) GROUP BY 1, 2), " +
        s"b$r AS (SELECT a, b, c FROM p$r " +
        "ORDER BY c DESC, a ASC, b ASC LIMIT 1), " +
        s"s$r AS (SELECT freq, replace(replace(seq, " +
        s"$D||a||$D||b||$D, $D||a||b||$D), " +
        s"$D||a||$D||b||$D, $D||a||b||$D) AS seq " +
        s"FROM $prev CROSS JOIN b$r)"
    }.mkString(", ", ", ", " ")
    head + rounds
  }

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
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE / " +
        "greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, 1.0) " +
        s"+ 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), 0.0), 1.0)"
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, text, $qs AS qs FROM t), " +
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

  /** Shard-manifest block shared by [[shardManifest]] and
    * [[trainMix]]: deterministic hash sharding + per-shard count /
    * char mass / digest — one map-side-partial aggregate. */
  private def manifestOf(df: DataFrame, nShards: Int): DataFrame =
    df.select(pmod(TextAnalysis.tokenHash(col("doc_id").cast("string")),
        lit(nShards.toLong)).as("shard"),
        col("n_chars"),
        (TextAnalysis.tokenHash(col("text")) % lit(DigestMod)).as("th"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        sum(col("th")).as("checksum"))
      .orderBy("shard")

  private def manifestSql(rel: String, nShards: Int): String =
    s"SELECT ${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $nShards AS shard, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("text")} % $DigestMod) " +
      s"AS BIGINT) AS checksum FROM $rel GROUP BY shard ORDER BY shard"

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
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE / " +
        "greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, 1.0) " +
        s"+ 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), 0.0), 1.0)"
      val sigList = (0 until Dedup.NumPerms).map(i => s"sig$i").mkString(", ")
      "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, text, $qs AS qs FROM t), " +
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

  // -------------------------------------------------------- multimodal

  private val multimodalMeta = Q("q_multimodal_meta",
    (s, d) => Multimodal.asMedia(docs(s, d), "text", "text-as-bytes")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("meta.n_bytes")).as("sum_bytes"),
        countDistinct(col("meta.sha")).as("n_sha"),
        sum(Multimodal.frameSampleChecksum("text", 16, 64)).as("sum_fsc"))
      .orderBy("source"),
    "SELECT source, count(*) AS n, " +
      "CAST(sum(length(text)) AS BIGINT) AS sum_bytes, " +
      "count(DISTINCT sha256(text)) AS n_sha, " +
      "CAST(sum(list_sum([CASE WHEN length(text) >= p " +
      "THEN ascii(substr(text, p, 1)) ELSE 0 END " +
      "for p in range(1, 65, 16)])) AS BIGINT) AS sum_fsc " +
      "FROM documents GROUP BY source ORDER BY source")

  /** Image-dedup round-trip — the first multimodal op with a FULL
    * oracle row through real pixel decode: per-doc parameters →
    * deterministic 24-bpp BMP test pattern
    * ([[Multimodal.bmpPatternColumn]]) → REAL ImageIO decode →
    * aHash64 → exact-group dedup stats. Shared seeds plant identical
    * images across docs, so the hash groups are the dedup signal. The
    * oracle recomputes the 64-sample aHash from the pixel formulas
    * (the q_multimodal_mp4 discipline) — a parser or hasher that
    * mis-reads any pixel, sample coordinate, mean, or threshold
    * breaks the hash sum. Pinned on the low 40 hash bits (bit 63
    * would need unsigned int64 cross-engine). Bytes never shuffle;
    * only (source, h40) reaches the aggregate. */
  private val multimodalImageDedup = Q("q_multimodal_imagededup",
    (s, d) => {
      // seed = row-within-source index mod 40: doc_id ≡ const (mod
      // |sources|) inside a source, so any affine doc_id mod collapses
      // to 2 seeds per source; the div-20 index varies per source AND
      // collides across sources — cross-source duplicate planting
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(40L)).cast("int")
            .as("seed"))
        .withColumn("w",
          (lit(8) * (pmod(col("seed"), lit(5)) + 2)).cast("int"))
        .withColumn("h",
          (lit(8) * (pmod(col("seed"), lit(7)) + 2)).cast("int"))
      val imgs = Multimodal.bmpPatternColumn(
        Multimodal.spreadParams(params, "doc_id"), "w", "h", "seed")
      // pinned: the global and per-source aggregates are DIFFERENT
      // subtrees, so without the barrier the BMP build + decode +
      // hash kernel ran twice (r14 optimization round)
      val hashed = pin(Multimodal.imageHashColumn(imgs, "media")
        .select(col("source"),
          pmod(col("ahash64"), lit(DigestMod)).as("h40")))
      // the planted duplicates span SOURCES, so the group structure
      // only shows at the corpus grain — ride it along as constants
      val global = hashed.agg(countDistinct(col("h40")).as("n_groups"),
        (count(lit(1)) - countDistinct(col("h40"))).as("n_redundant"))
      hashed.groupBy("source")
        .agg(count(lit(1)).as("n_images"),
          countDistinct(col("h40")).as("n_distinct"),
          sum(col("h40")).as("hash_sum"))
        .crossJoin(global)
        .orderBy("source")
    },
    "WITH d0 AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 40 AS INT) AS seed FROM documents), " +
      "dd AS (SELECT doc_id, source, seed, 8 * (seed % 5 + 2) AS w, " +
      "8 * (seed % 7 + 2) AS h FROM d0), " +
      "pos AS (SELECT doc_id, source, seed, w, h, " +
      "CAST(unnest(range(0, 64)) AS INT) AS i FROM dd), " +
      "xy AS (SELECT doc_id, source, seed, i, " +
      "least((i % 8) * w // 8 + w // 16, w - 1) AS x, " +
      "least((i // 8) * h // 8 + h // 16, h - 1) AS y FROM pos), " +
      "gr AS (SELECT doc_id, source, i, " +
      "(seed*31 + x*7 + y*13) % 256 + (seed*17 + x*11 + y*5) % 256 + " +
      "(seed*23 + x*3 + y*19) % 256 AS g FROM xy), " +
      "st AS (SELECT doc_id, CAST(sum(g) AS BIGINT) // 64 AS m " +
      "FROM gr GROUP BY doc_id), " +
      "hh AS (SELECT gr.doc_id, gr.source, " +
      "CAST(sum(CASE WHEN gr.g > st.m AND gr.i < 40 " +
      "THEN (CAST(1 AS BIGINT) << gr.i) ELSE 0 END) AS BIGINT) AS h40 " +
      "FROM gr JOIN st USING (doc_id) GROUP BY gr.doc_id, gr.source), " +
      "g AS (SELECT count(DISTINCT h40) AS n_groups, " +
      "count(*) - count(DISTINCT h40) AS n_redundant FROM hh) " +
      "SELECT source, count(*) AS n_images, " +
      "count(DISTINCT h40) AS n_distinct, " +
      "CAST(sum(h40) AS BIGINT) AS hash_sum, " +
      "max(g.n_groups) AS n_groups, max(g.n_redundant) AS n_redundant " +
      "FROM hh CROSS JOIN g GROUP BY source ORDER BY source")

  /** VIDEO FRAME decode through the [[graft.ops.FrameDecoder]] seam —
    * the round-10 upgrade that makes the round-9 stub real for one
    * honest codec: per-doc parameters → 3-frame MJPEG MP4 with a REAL
    * sample table ([[Multimodal.mjpegPatternColumn]]: real JPEG
    * encode, real stsz/stsc/stco) → [[Multimodal.decodeColumn]]
    * routing to the built-in [[graft.ops.FrameDecoder.Mjpeg]] (sample
    * walk → ImageIO JPEG decode → per-frame aHash, folded to the
    * 40-bit digest convention) → per-source aggregates. The oracle
    * recomputes each frame's aHash from the block-pattern formula
    * (first k of 64 aligned blocks white ⇒ hash = 2^k − 1, the
    * q_multimodal_imagededup discipline): a decoder that mis-walks
    * the sample table, mis-decodes a frame, or mis-hashes a pixel
    * breaks the sums. Even-seed clips repeat frame 0 as frame 1, so
    * `n_frame_dups` pins within-clip frame dedup through real decode.
    * Bytes never shuffle; only (source, f0..f2) reach the agg. */
  private val multimodalFrameDecode = Q("q_multimodal_framedecode",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(50L)).cast("int").as("seed"))
        .withColumn("k0",
          (pmod(col("seed") * 7 + 3, lit(32)) + 8).cast("int"))
        .withColumn("k1",
          (pmod(col("seed") * 7 + 3 + pmod(col("seed"), lit(2)) * 11,
            lit(32)) + 8).cast("int"))
        .withColumn("k2",
          (pmod(col("seed") * 5 + 11, lit(32)) + 8).cast("int"))
      val built = Multimodal.mjpegPatternColumn(
        Multimodal.spreadParams(params, "doc_id"),
        Seq("k0", "k1", "k2"))
      Multimodal.decodeColumn(built, "media", "jpeg", featDim = 3)
        .select(col("source"),
          element_at(col("features"), 1).cast("long").as("f0"),
          element_at(col("features"), 2).cast("long").as("f1"),
          element_at(col("features"), 3).cast("long").as("f2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(col("f0")).as("sum_f0"),
          sum(col("f1")).as("sum_f1"),
          sum(col("f2")).as("sum_f2"),
          countDistinct(col("f0")).as("n_distinct_f0"),
          sum(when(col("f0") === col("f1"), 1L).otherwise(0L))
            .as("n_frame_dups"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 50 AS INT) AS seed FROM documents), " +
      "k AS (SELECT source, " +
      "(seed*7 + 3) % 32 + 8 AS k0, " +
      "(seed*7 + 3 + (seed%2)*11) % 32 + 8 AS k1, " +
      "(seed*5 + 11) % 32 + 8 AS k2 FROM p), " +
      "f AS (SELECT source, " +
      "(CAST(1 AS BIGINT) << k0) - 1 AS f0, " +
      "(CAST(1 AS BIGINT) << k1) - 1 AS f1, " +
      "(CAST(1 AS BIGINT) << k2) - 1 AS f2 FROM k) " +
      "SELECT source, count(*) AS n_clips, " +
      "CAST(sum(f0) AS BIGINT) AS sum_f0, " +
      "CAST(sum(f1) AS BIGINT) AS sum_f1, " +
      "CAST(sum(f2) AS BIGINT) AS sum_f2, " +
      "count(DISTINCT f0) AS n_distinct_f0, " +
      "CAST(sum(CASE WHEN f0 = f1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_frame_dups " +
      "FROM f GROUP BY source ORDER BY source")

  /** AVI container-metadata round-trip (round-11 honest-codec
    * widening): per-doc parameters → minimal RIFF AVI bytes
    * ([[Multimodal.aviBuildColumn]], DIB or RLE8 by id parity) →
    * chunk-walk parse ([[Multimodal.aviMetaColumn]]) → per-(source,
    * codec) aggregates. The oracle recomputes every aggregate from
    * the parameter formulas, so a writer or parser that mis-reads
    * any little-endian header field — avih frame counts, strf
    * bpp/compression, integer-division duration — breaks the hash.
    * Bytes never shuffle; only the parsed struct reaches the agg. */
  private val multimodalAvi = Q("q_multimodal_avi",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        (lit(16) * (pmod(col("doc_id"), lit(13)) + 1)).cast("int").as("w"),
        (lit(16) * (pmod(col("doc_id"), lit(9)) + 1)).cast("int").as("h"),
        (lit(20000L) + pmod(col("doc_id"), lit(7)) * 5000L).as("us"),
        (pmod(col("doc_id"), lit(4)) + 2).cast("int").as("nf"),
        pmod(col("doc_id"), lit(2)).cast("int").as("rle"))
      val built = Multimodal.aviBuildColumn(src, "w", "h", "us", "nf",
        "rle")
      Multimodal.aviMetaColumn(built, "media")
        .groupBy(col("source"), col("avi.codec").as("codec"))
        .agg(count(lit(1)).as("n"),
          sum(col("avi.width").cast("long")).as("sum_w"),
          sum(col("avi.height").cast("long")).as("sum_h"),
          sum(col("avi.n_frames")).as("sum_frames"),
          sum(col("avi.duration_ms")).as("sum_dur_ms"),
          sum(col("avi.bpp").cast("long")).as("sum_bpp"))
        .orderBy("source", "codec")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CASE doc_id % 2 WHEN 0 THEN 'dib' ELSE 'mrle' END AS codec, " +
      "16 * ((doc_id % 13) + 1) AS w, 16 * ((doc_id % 9) + 1) AS h, " +
      "20000 + (doc_id % 7) * 5000 AS us, (doc_id % 4) + 2 AS nf, " +
      "CASE doc_id % 2 WHEN 0 THEN 24 ELSE 8 END AS bpp " +
      "FROM documents) " +
      "SELECT source, codec, count(*) AS n, " +
      "CAST(sum(w) AS BIGINT) AS sum_w, " +
      "CAST(sum(h) AS BIGINT) AS sum_h, " +
      "CAST(sum(nf) AS BIGINT) AS sum_frames, " +
      "CAST(sum(nf * us // 1000) AS BIGINT) AS sum_dur_ms, " +
      "CAST(sum(bpp) AS BIGINT) AS sum_bpp " +
      "FROM p GROUP BY source, codec ORDER BY source, codec")

  /** AVI FRAME decode through the [[graft.ops.FrameDecoder]] seam —
    * the second honest codec family after MJPEG: per-doc parameters
    * → 3-frame 32×32 block-pattern clips carried as raw DIB for even
    * ids and Microsoft RLE8 for odd ids
    * ([[Multimodal.aviPatternColumn]]) → the built-in
    * [[graft.ops.FrameDecoder.AviFrames]] (movi chunk walk →
    * BMP re-wrap → ImageIO pixel decode, including the RLE8
    * run/escape state machine → per-frame aHash) → per-(source,
    * codec) aggregates. Both encodings must produce IDENTICAL
    * features (same pixels), so grouping by codec pins the RLE8
    * decoder against the raw path; even seeds repeat frame 0 as
    * frame 1 (`n_frame_dups` — within-clip dedup through real
    * decode). Bytes never shuffle. */
  private val multimodalAviDecode = Q("q_multimodal_avidecode",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(50L)).cast("int").as("seed"),
          pmod(col("doc_id"), lit(2L)).cast("int").as("rle"))
        .withColumn("k0",
          (pmod(col("seed") * 11 + 5, lit(32)) + 8).cast("int"))
        .withColumn("k1",
          (pmod(col("seed") * 11 + 5 + pmod(col("seed"), lit(2)) * 13,
            lit(32)) + 8).cast("int"))
        .withColumn("k2",
          (pmod(col("seed") * 3 + 17, lit(32)) + 8).cast("int"))
      val built = Multimodal.aviPatternColumn(
        Multimodal.spreadParams(params, "doc_id"),
        Seq("k0", "k1", "k2"), "rle")
      Multimodal.decodeColumn(built, "media", "avi", featDim = 3)
        .select(col("source"), col("rle"),
          element_at(col("features"), 1).cast("long").as("f0"),
          element_at(col("features"), 2).cast("long").as("f1"),
          element_at(col("features"), 3).cast("long").as("f2"))
        .groupBy(col("source"), col("rle"))
        .agg(count(lit(1)).as("n_clips"),
          sum(col("f0")).as("sum_f0"),
          sum(col("f1")).as("sum_f1"),
          sum(col("f2")).as("sum_f2"),
          countDistinct(col("f0")).as("n_distinct_f0"),
          sum(when(col("f0") === col("f1"), 1L).otherwise(0L))
            .as("n_frame_dups"))
        .orderBy("source", "rle")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 50 AS INT) AS seed, " +
      "CAST(doc_id % 2 AS INT) AS rle FROM documents), " +
      "k AS (SELECT source, rle, " +
      "(seed*11 + 5) % 32 + 8 AS k0, " +
      "(seed*11 + 5 + (seed%2)*13) % 32 + 8 AS k1, " +
      "(seed*3 + 17) % 32 + 8 AS k2 FROM p), " +
      "f AS (SELECT source, rle, " +
      "(CAST(1 AS BIGINT) << k0) - 1 AS f0, " +
      "(CAST(1 AS BIGINT) << k1) - 1 AS f1, " +
      "(CAST(1 AS BIGINT) << k2) - 1 AS f2 FROM k) " +
      "SELECT source, rle, count(*) AS n_clips, " +
      "CAST(sum(f0) AS BIGINT) AS sum_f0, " +
      "CAST(sum(f1) AS BIGINT) AS sum_f1, " +
      "CAST(sum(f2) AS BIGINT) AS sum_f2, " +
      "count(DISTINCT f0) AS n_distinct_f0, " +
      "CAST(sum(CASE WHEN f0 = f1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_frame_dups " +
      "FROM f GROUP BY source, rle ORDER BY source, rle")

  /** Animated-GIF FRAME decode through the [[graft.ops.FrameDecoder]]
    * seam — the THIRD honest codec family (after MJPEG and AVI
    * DIB/RLE8), proving the registry is a real extension point, not
    * a two-off: per-doc parameters → 3-frame 32×32 block-pattern
    * clips encoded by the JDK GIF writer's real LZW path
    * ([[graft.ops.Multimodal.gifPatternColumn]]) → the built-in
    * [[graft.ops.FrameDecoder.GifFrames]] (image-descriptor walk →
    * ImageIO LZW decode → per-frame aHash) → per-source aggregates.
    * Even seeds repeat frame 0 as frame 1 (`n_frame_dups` —
    * within-clip dedup through real decode). The oracle recomputes
    * every feature from the 2^k − 1 block-pattern formula. Bytes
    * never shuffle; only (source, f0..f2) reach the agg. */
  private val multimodalGifDecode = Q("q_multimodal_gifdecode",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(50L)).cast("int").as("seed"))
        .withColumn("k0",
          (pmod(col("seed") * 13 + 7, lit(32)) + 8).cast("int"))
        .withColumn("k1",
          (pmod(col("seed") * 13 + 7 + pmod(col("seed"), lit(2)) * 9,
            lit(32)) + 8).cast("int"))
        .withColumn("k2",
          (pmod(col("seed") * 7 + 19, lit(32)) + 8).cast("int"))
      val built = Multimodal.gifPatternColumn(
        Multimodal.spreadParams(params, "doc_id"),
        Seq("k0", "k1", "k2"))
      Multimodal.decodeColumn(built, "media", "gif", featDim = 3)
        .select(col("source"),
          element_at(col("features"), 1).cast("long").as("f0"),
          element_at(col("features"), 2).cast("long").as("f1"),
          element_at(col("features"), 3).cast("long").as("f2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(col("f0")).as("sum_f0"),
          sum(col("f1")).as("sum_f1"),
          sum(col("f2")).as("sum_f2"),
          countDistinct(col("f0")).as("n_distinct_f0"),
          sum(when(col("f0") === col("f1"), 1L).otherwise(0L))
            .as("n_frame_dups"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 50 AS INT) AS seed FROM documents), " +
      "k AS (SELECT source, " +
      "(seed*13 + 7) % 32 + 8 AS k0, " +
      "(seed*13 + 7 + (seed%2)*9) % 32 + 8 AS k1, " +
      "(seed*7 + 19) % 32 + 8 AS k2 FROM p), " +
      "f AS (SELECT source, " +
      "(CAST(1 AS BIGINT) << k0) - 1 AS f0, " +
      "(CAST(1 AS BIGINT) << k1) - 1 AS f1, " +
      "(CAST(1 AS BIGINT) << k2) - 1 AS f2 FROM k) " +
      "SELECT source, count(*) AS n_clips, " +
      "CAST(sum(f0) AS BIGINT) AS sum_f0, " +
      "CAST(sum(f1) AS BIGINT) AS sum_f1, " +
      "CAST(sum(f2) AS BIGINT) AS sum_f2, " +
      "count(DISTINCT f0) AS n_distinct_f0, " +
      "CAST(sum(CASE WHEN f0 = f1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_frame_dups " +
      "FROM f GROUP BY source ORDER BY source")

  /** GIF container-metadata round-trip (the meta/decode split the
    * AVI family has, applied to GIF): per-doc parameters → animated
    * GIF with per-frame Graphic Control Extension delays and the
    * NETSCAPE2.0 loop extension ([[graft.ops.Multimodal
    * .gifBuildColumn]] through the JDK writer's real LZW +
    * metadata-tree path) → byte-level block-stream walk
    * ([[graft.ops.Gif.parseMeta]] — header, logical screen
    * descriptor, GCE delays, application extension, image
    * descriptors with their sub-block structure, NO pixel decode) →
    * per-(source, loop) aggregates. The oracle recomputes every
    * aggregate from the parameter formulas, so a writer or parser
    * mis-reading any LE16 field — dims, delay, loop count — or
    * mis-walking the sub-block structure breaks the sums. Bytes
    * never shuffle. */
  private val multimodalGifMeta = Q("q_multimodal_gifmeta",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        (lit(8) * (pmod(col("doc_id"), lit(13)) + 1)).cast("int").as("w"),
        (lit(8) * (pmod(col("doc_id"), lit(9)) + 1)).cast("int").as("h"),
        (pmod(col("doc_id"), lit(4)) + 2).cast("int").as("nf"),
        (pmod(col("doc_id"), lit(11)) + 4).cast("int").as("dly"),
        pmod(col("doc_id"), lit(3)).cast("int").as("lp"))
      val built = Multimodal.gifBuildColumn(
        Multimodal.spreadParams(src, "doc_id"), "w", "h", "nf",
        "dly", "lp")
      Multimodal.gifMetaColumn(built, "media")
        .groupBy(col("source"), col("gif.loop").as("loop"))
        .agg(count(lit(1)).as("n"),
          sum(col("gif.width").cast("long")).as("sum_w"),
          sum(col("gif.height").cast("long")).as("sum_h"),
          sum(col("gif.n_frames").cast("long")).as("sum_frames"),
          sum(col("gif.n_gce").cast("long")).as("sum_gce"),
          sum(col("gif.duration_ms")).as("sum_dur_ms"),
          sum(when(col("gif.version") === "89a", 1L).otherwise(0L))
            .as("n_v89"))
        .orderBy("source", "loop")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "8 * ((doc_id % 13) + 1) AS w, 8 * ((doc_id % 9) + 1) AS h, " +
      "(doc_id % 4) + 2 AS nf, (doc_id % 11) + 4 AS dly, " +
      "CAST(doc_id % 3 AS INT) AS lp FROM documents) " +
      "SELECT source, lp AS loop, count(*) AS n, " +
      "CAST(sum(w) AS BIGINT) AS sum_w, " +
      "CAST(sum(h) AS BIGINT) AS sum_h, " +
      "CAST(sum(nf) AS BIGINT) AS sum_frames, " +
      "CAST(sum(nf) AS BIGINT) AS sum_gce, " +
      "CAST(sum(nf * dly * 10) AS BIGINT) AS sum_dur_ms, " +
      "count(*) AS n_v89 " +
      "FROM p GROUP BY source, lp ORDER BY source, lp")

  /** MP4 container-metadata round-trip: per-doc parameters → minimal
    * ISO BMFF bytes ([[Multimodal.mp4BuildColumn]]) → box-walk parse
    * ([[Multimodal.mp4MetaColumn]]) → per-(source, codec) aggregates.
    * The oracle recomputes every aggregate from the parameter
    * formulas directly, so a parser (or writer) that mis-reads any
    * field — duration, mdat size, 16.16 dimensions, sample-entry
    * 4cc, integer-division bitrate — breaks the hash. No frame
    * decode anywhere (pure container metadata; see [[graft.ops.Mp4]]). */
  private val multimodalMp4 = Q("q_multimodal_mp4",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        (lit(1000L) + (length(col("text")) % 577).cast("long") * 10)
          .as("dur_ms"),
        (lit(16) * (pmod(col("doc_id"), lit(40)) + 1)).cast("int").as("w"),
        (lit(16) * (pmod(col("doc_id"), lit(23)) + 1)).cast("int").as("h"),
        element_at(array(lit("avc1"), lit("hev1"), lit("vp09")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("codec"),
        length(col("text")).cast("int").as("mdat"))
      val built = Multimodal.mp4BuildColumn(src, "dur_ms", "w", "h",
        "codec", "mdat")
      Multimodal.mp4MetaColumn(built, "media")
        .groupBy(col("source"), col("mp4.codec").as("codec"))
        .agg(count(lit(1)).as("n"),
          sum(col("mp4.duration_ms")).as("sum_dur_ms"),
          sum(col("mp4.mdat_bytes")).as("sum_mdat"),
          sum(col("mp4.bitrate_bps")).as("sum_bps"),
          sum(col("mp4.width").cast("long")).as("sum_w"),
          sum(col("mp4.height").cast("long")).as("sum_h"),
          sum(col("mp4.n_tracks").cast("long")).as("sum_tracks"))
        .orderBy("source", "codec")
    },
    "WITH p AS (SELECT doc_id, source, length(text) AS nc " +
      "FROM documents), " +
      "q AS (SELECT source, CASE doc_id % 3 WHEN 0 THEN 'avc1' " +
      "WHEN 1 THEN 'hev1' ELSE 'vp09' END AS codec, " +
      "1000 + (nc % 577) * 10 AS dur, nc AS mdat, " +
      "16 * ((doc_id % 40) + 1) AS w, 16 * ((doc_id % 23) + 1) AS h " +
      "FROM p) " +
      "SELECT source, codec, count(*) AS n, " +
      "CAST(sum(dur) AS BIGINT) AS sum_dur_ms, " +
      "CAST(sum(mdat) AS BIGINT) AS sum_mdat, " +
      "CAST(sum((mdat * 8 * 1000) // dur) AS BIGINT) AS sum_bps, " +
      "CAST(sum(w) AS BIGINT) AS sum_w, " +
      "CAST(sum(h) AS BIGINT) AS sum_h, " +
      "CAST(count(*) AS BIGINT) AS sum_tracks " +
      "FROM q GROUP BY source, codec ORDER BY source, codec")

  /** MPEG audio (MP3) frame-header round-trip: per-doc parameters →
    * Layer-III frames ([[Multimodal.mp3BuildColumn]]) → sync-scan
    * parse ([[Multimodal.mp3MetaColumn]]) → per-(source, version)
    * aggregates. The oracle recomputes every aggregate from the
    * bitrate/samplerate TABLES and the integer duration formula
    * (frames·spf·1000 // rate) directly, so a parser that mis-reads
    * any header field, walks frames inexactly, or mis-flags VBR
    * breaks the hash. No sample decode ([[graft.ops.Mp3]]). */
  private val multimodalMp3 = Q("q_multimodal_mp3",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        (pmod(col("doc_id"), lit(2)) === 0).as("mpeg1"),
        (pmod(col("doc_id"), lit(12)) + 1).cast("int").as("br"),
        pmod(col("doc_id"), lit(3)).cast("int").as("sr"),
        (lit(1) + pmod(length(col("text")), lit(97))).cast("int").as("nf"),
        (pmod(col("doc_id"), lit(5)) === 0).as("mono"),
        when(pmod(col("doc_id"), lit(4)) === 0, 2).otherwise(0)
          .cast("int").as("vbr"))
      val built = Multimodal.mp3BuildColumn(src, "mpeg1", "br", "sr",
        "nf", "mono", "vbr")
      Multimodal.mp3MetaColumn(built, "media")
        .groupBy(col("source"), col("mp3.version").as("version"))
        .agg(count(lit(1)).as("n"),
          sum(col("mp3.duration_ms")).as("sum_dur_ms"),
          sum(col("mp3.bitrate_kbps").cast("long")).as("sum_kbps"),
          sum(col("mp3.n_frames")).as("sum_frames"),
          sum(col("mp3.channels").cast("long")).as("sum_ch"),
          sum(when(col("mp3.is_vbr"), 1L).otherwise(0L)).as("n_vbr"))
        .orderBy("source", "version")
    },
    "WITH p AS (SELECT doc_id, source, length(text) AS nc " +
      "FROM documents), " +
      "q AS (SELECT source, doc_id % 2 = 0 AS mpeg1, " +
      "CAST(doc_id % 12 + 1 AS INTEGER) AS br, " +
      "CAST(doc_id % 3 AS INTEGER) AS sr, " +
      "1 + (nc % 97) AS nf, " +
      "CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS ch, " +
      "(doc_id % 4 = 0) AND (nc % 97) >= 1 AS vbr FROM p), " +
      "r AS (SELECT source, " +
      "CASE WHEN mpeg1 THEN '1' ELSE '2' END AS version, " +
      "CASE WHEN mpeg1 THEN [44100, 48000, 32000][sr + 1] " +
      "ELSE [22050, 24000, 16000][sr + 1] END AS rate, " +
      "CASE WHEN mpeg1 THEN [32, 40, 48, 56, 64, 80, 96, 112, 128, " +
      "160, 192, 224, 256, 320][br] " +
      "ELSE [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, " +
      "160][br] END AS kbps, " +
      "CASE WHEN mpeg1 THEN 1152 ELSE 576 END AS spf, " +
      "nf, ch, vbr FROM q) " +
      "SELECT source, version, count(*) AS n, " +
      "CAST(sum((nf * spf * 1000) // rate) AS BIGINT) AS sum_dur_ms, " +
      "CAST(sum(kbps) AS BIGINT) AS sum_kbps, " +
      "CAST(sum(nf) AS BIGINT) AS sum_frames, " +
      "CAST(sum(ch) AS BIGINT) AS sum_ch, " +
      "CAST(sum(CASE WHEN vbr THEN 1 ELSE 0 END) AS BIGINT) AS n_vbr " +
      "FROM r GROUP BY source, version ORDER BY source, version")

  /** H.264 SPS round-trip THROUGH the MP4 container: per-doc
    * parameters → SPS bits → avcC → avc1 sample entry → box walk +
    * exp-Golomb parse. The container carries only the mb-ROUNDED
    * coded size; the true (cropped) display dimensions exist solely
    * inside the SPS — so sum_w/sum_h match only if the bit-exact
    * exp-Golomb path (including the cropping fields and high-profile
    * branches) is right, while sum_cw/sum_ch pin the container walk
    * beside it. No frame decode ([[graft.ops.Avc]]). */
  private val multimodalAvc = Q("q_multimodal_avc",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        (lit(1000L) + (length(col("text")) % 211).cast("long") * 40)
          .as("dur_ms"),
        (lit(2) * (pmod(col("doc_id"), lit(317)) + 50)).cast("int").as("w"),
        (lit(2) * (pmod(col("doc_id"), lit(173)) + 40)).cast("int").as("h"),
        element_at(array(lit(66), lit(77), lit(100)),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("profile"),
        element_at(array(lit(30), lit(31), lit(40), lit(41), lit(51)),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int")).as("level"),
        length(col("text")).cast("int").as("mdat"))
      val built = Multimodal.avcMp4BuildColumn(src, "dur_ms", "w", "h",
        "profile", "level", "mdat")
      Multimodal.mp4MetaColumn(built, "media")
        .groupBy(col("source"),
          col("mp4.sps_profile").cast("long").as("profile"))
        .agg(count(lit(1)).as("n"),
          sum(col("mp4.sps_width").cast("long")).as("sum_w"),
          sum(col("mp4.sps_height").cast("long")).as("sum_h"),
          sum(col("mp4.width").cast("long")).as("sum_cw"),
          sum(col("mp4.height").cast("long")).as("sum_chh"),
          sum(col("mp4.sps_level").cast("long")).as("sum_level"),
          sum(col("mp4.duration_ms")).as("sum_dur_ms"))
        .orderBy("source", "profile")
    },
    "WITH p AS (SELECT doc_id, source, length(text) AS nc " +
      "FROM documents), " +
      "q AS (SELECT source, 1000 + (nc % 211) * 40 AS dur, " +
      "2 * (doc_id % 317 + 50) AS w, 2 * (doc_id % 173 + 40) AS h, " +
      "[66, 77, 100][CAST(doc_id % 3 AS INTEGER) + 1] AS profile, " +
      "[30, 31, 40, 41, 51][CAST(doc_id % 5 AS INTEGER) + 1] AS lvl " +
      "FROM p) " +
      "SELECT source, CAST(profile AS BIGINT) AS profile, " +
      "count(*) AS n, " +
      "CAST(sum(w) AS BIGINT) AS sum_w, " +
      "CAST(sum(h) AS BIGINT) AS sum_h, " +
      "CAST(sum((w + 15) // 16 * 16) AS BIGINT) AS sum_cw, " +
      "CAST(sum((h + 15) // 16 * 16) AS BIGINT) AS sum_chh, " +
      "CAST(sum(lvl) AS BIGINT) AS sum_level, " +
      "CAST(sum(dur) AS BIGINT) AS sum_dur_ms " +
      "FROM q GROUP BY source, profile ORDER BY source, profile")

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

  /** FLAC STREAMINFO round-trip: per-doc parameters → metadata-only
    * FLAC header ([[Multimodal.flacBuildColumn]]) → bitfield parse →
    * per-(source, rate) aggregates; the oracle recomputes the packed
    * 20/3/5/36-bit fields and the integer duration from the
    * parameter formulas. [[graft.ops.Flac]]. */
  private val multimodalFlac = Q("q_multimodal_flac",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        element_at(array(lit(8000), lit(16000), lit(22050), lit(24000),
          lit(32000), lit(44100), lit(48000), lit(96000)),
          (pmod(col("doc_id"), lit(8)) + 1).cast("int")).as("rate"),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int").as("chan"),
        element_at(array(lit(16), lit(24)),
          (pmod(col("doc_id"), lit(2)) + 1).cast("int")).as("bps"),
        (length(col("text")).cast("long") * 1000L +
          pmod(col("doc_id"), lit(977))).as("samples"))
      val built = Multimodal.flacBuildColumn(src, "rate", "chan", "bps",
        "samples")
      Multimodal.flacMetaColumn(built, "media")
        .groupBy(col("source"), col("flac.sample_rate").as("rate"))
        .agg(count(lit(1)).as("n"),
          sum(col("flac.duration_ms")).as("sum_dur_ms"),
          sum(col("flac.total_samples")).as("sum_samples"),
          sum(col("flac.channels").cast("long")).as("sum_chan"),
          sum(col("flac.bits_per_sample").cast("long")).as("sum_bps"))
        .orderBy("source", "rate")
    },
    "WITH p AS (SELECT doc_id, source, length(text) AS nc " +
      "FROM documents), " +
      "q AS (SELECT source, [8000, 16000, 22050, 24000, 32000, 44100, " +
      "48000, 96000][CAST(doc_id % 8 AS INTEGER) + 1] AS rate, " +
      "CAST(doc_id % 8 + 1 AS BIGINT) AS chan, " +
      "[16, 24][CAST(doc_id % 2 AS INTEGER) + 1] AS bps, " +
      "nc * 1000 + (doc_id % 977) AS samples FROM p) " +
      "SELECT source, rate, count(*) AS n, " +
      "CAST(sum((samples * 1000) // rate) AS BIGINT) AS sum_dur_ms, " +
      "CAST(sum(samples) AS BIGINT) AS sum_samples, " +
      "CAST(sum(chan) AS BIGINT) AS sum_chan, " +
      "CAST(sum(bps) AS BIGINT) AS sum_bps " +
      "FROM q GROUP BY source, rate ORDER BY source, rate")

  /** Real FLAC FRAME decode ([[graft.ops.Flac.decode]] — the
    * lossless-audio codec through the media family's honest-decode
    * discipline): clips BUILT from parameter formulas through the
    * REAL encoder (frame headers, CRC-8/CRC-16, CONSTANT + VERBATIM
    * + FIXED-order-2-with-Rice subframes), decoded by the verifying
    * walk, and — because FLAC is lossless — every decoded register
    * (sample sum/min/max, a position-weighted digest, and the
    * per-kind frame counts) pinned by the oracle straight from the
    * signal formula without touching a byte. The sawtooth's order-2
    * residuals are 0 away from wraps, so frame kinds are a pure
    * function of block roles (block 0 verbatim, b ≡ 3 (mod 4)
    * constant, rest fixed). Bytes never shuffle; samples never leave
    * the decode kernel (only registers reach the aggregate). */
  private val FlacDigestMod = 999999937L
  private val multimodalFlacDecode = Q("q_multimodal_flacdecode",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"))
        .withColumn("n",
          (lit(200) + lit(64) * pmod(col("seed"), lit(8))).cast("int"))
      val clips = Multimodal.flacPatternColumn(params, "n", "seed")
      val dec = Multimodal.flacAudioColumn(clips, "media", FlacDigestMod)
      dec.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("fa").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("fa.n_frames").cast("long")).as("n_frames"),
          sum(col("fa.n_const").cast("long")).as("n_const"),
          sum(col("fa.n_verbatim").cast("long")).as("n_verbatim"),
          sum(col("fa.n_fixed").cast("long")).as("n_fixed"),
          sum(col("fa.n_samples").cast("long")).as("n_samples"),
          sum(col("fa.sum_s")).as("sum_s"),
          min(col("fa.min_s")).as("min_s"),
          max(col("fa.max_s")).as("max_s"),
          pmod(sum(col("fa.dg")), lit(FlacDigestMod)).as("dg"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 32 AS INT) AS seed FROM documents), " +
      "pp AS (SELECT doc_id, source, seed, " +
      "200 + 64 * (seed % 8) AS n, " +
      "(200 + 64 * (seed % 8) + 63) // 64 AS nf, " +
      "(seed * 977) % 4096 - 2048 AS cval FROM p), " +
      "tt AS (SELECT doc_id, source, seed, n, cval, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM pp), " +
      "v AS (SELECT doc_id, source, t, " +
      "CASE WHEN t // 64 > 0 AND (t // 64) % 4 = 3 THEN cval " +
      "ELSE (seed * 97 + t * 31) % 4096 - 2048 END AS s FROM tt), " +
      "cl AS (SELECT doc_id, any_value(source) AS source, " +
      "CAST(sum(s) AS BIGINT) AS sum_s, min(s) AS min_s, " +
      "max(s) AS max_s, " +
      s"CAST(sum((t + 1) * (s + 32768)) AS BIGINT) % $FlacDigestMod " +
      "AS dg, count(*) AS n_samples FROM v GROUP BY doc_id), " +
      "fr AS (SELECT doc_id, nf, " +
      "greatest(0, (nf - 4) // 4 + 1) AS n_const FROM pp) " +
      "SELECT cl.source, count(*) AS n_clips, " +
      "CAST(0 AS BIGINT) AS n_bad, " +
      "CAST(sum(fr.nf) AS BIGINT) AS n_frames, " +
      "CAST(sum(fr.n_const) AS BIGINT) AS n_const, " +
      "CAST(count(*) AS BIGINT) AS n_verbatim, " +
      "CAST(sum(fr.nf - 1 - fr.n_const) AS BIGINT) AS n_fixed, " +
      "CAST(sum(cl.n_samples) AS BIGINT) AS n_samples, " +
      "CAST(sum(cl.sum_s) AS BIGINT) AS sum_s, " +
      "min(cl.min_s) AS min_s, max(cl.max_s) AS max_s, " +
      s"CAST(sum(cl.dg) AS BIGINT) % $FlacDigestMod AS dg " +
      "FROM cl JOIN fr USING (doc_id) " +
      "GROUP BY cl.source ORDER BY cl.source")

  /** bps-grid + wasted-bits FLAC decode ([[graft.ops.Flac]] widened
    * to the full 8/12/16/20/24-bit streamable subset, r14): clips
    * cycle sample width by doc id and carry w ∈ {0, 1, 2} wasted bits
    * (samples built pre-scaled by 2^w — the upscaled-ADC shape real
    * encoders extract), even seeds through the LPC planner, odd
    * through FIXED. The oracle replays the signal formula
    * s(t) = (((seed·97 + t·31) mod 2^(bps−1−w)) − 2^(bps−2−w)) · 2^w
    * sample-exactly — a wasted-header slip or a width-dependent
    * decode bug shears the digest; sum_bps pins STREAMINFO through
    * the decode; n_bad = 0 pins the all-frames contract at every
    * width. Bytes never shuffle, registers do. */
  private val multimodalFlacBps = Q("q_multimodal_flacbps",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"),
          (pmod(col("doc_id"), lit(5L)) * 4 + 8).cast("int").as("bps"),
          pmod(col("doc_id"), lit(3L)).cast("int").as("w"))
        .withColumn("n",
          (lit(200) + lit(64) * pmod(col("seed"), lit(5))).cast("int"))
      val clips = Multimodal.flacBpsPatternColumn(params, "n", "seed",
        "bps", "w")
      val dec = Multimodal.flacAudioColumn(clips, "media", FlacDigestMod)
      dec.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("fa").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("fa.n_frames").cast("long")).as("n_frames"),
          sum(col("fa.bps").cast("long")).as("sum_bps"),
          sum(col("fa.n_samples").cast("long")).as("n_samples"),
          sum(col("fa.sum_s")).as("sum_s"),
          min(col("fa.min_s")).as("min_s"),
          max(col("fa.max_s")).as("max_s"),
          pmod(sum(col("fa.dg")), lit(FlacDigestMod)).as("dg"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 32 AS INT) AS seed, " +
      "CAST(8 + 4 * (doc_id % 5) AS INT) AS bps, " +
      "CAST(doc_id % 3 AS INT) AS w FROM documents), " +
      "pp AS (SELECT doc_id, source, seed, bps, w, " +
      "200 + 64 * (seed % 5) AS n, " +
      "(1 << (bps - 1 - w)) AS amp FROM p), " +
      "tt AS (SELECT doc_id, source, seed, bps, w, n, amp, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM pp), " +
      "v AS (SELECT doc_id, source, t, " +
      "CAST(((seed * 97 + t * 31) % amp - amp // 2) * (1 << w) AS INT) " +
      "AS s FROM tt), " +
      "cl AS (SELECT doc_id, any_value(source) AS source, " +
      "CAST(sum(s) AS BIGINT) AS sum_s, min(s) AS min_s, " +
      "max(s) AS max_s, " +
      s"CAST(sum(CAST(t + 1 AS BIGINT) * (s + 32768)) AS BIGINT) " +
      s"% $FlacDigestMod AS dgc, " +
      "count(*) AS n_samples FROM v GROUP BY doc_id) " +
      "SELECT cl.source, count(*) AS n_clips, " +
      "CAST(0 AS BIGINT) AS n_bad, " +
      "CAST(sum((pp.n + 63) // 64) AS BIGINT) AS n_frames, " +
      "CAST(sum(pp.bps) AS BIGINT) AS sum_bps, " +
      "CAST(sum(cl.n_samples) AS BIGINT) AS n_samples, " +
      "CAST(sum(cl.sum_s) AS BIGINT) AS sum_s, " +
      "min(cl.min_s) AS min_s, max(cl.max_s) AS max_s, " +
      s"((CAST(sum(cl.dgc) AS BIGINT) % $FlacDigestMod) " +
      s"+ $FlacDigestMod) % $FlacDigestMod AS dg " +
      "FROM cl JOIN pp USING (doc_id) " +
      "GROUP BY cl.source ORDER BY cl.source")

  /** SURROUND FLAC decode ([[graft.ops.Flac.encodeMulti]] — r14
    * closes the >2-channel notch: RFC 9639's only surround assignment
    * is N independent subframes, chanCode = N − 1): clips cycle 3-8
    * channels by doc id, even seeds through the LPC planner. The
    * oracle replays the per-channel signal formula at the INTERLEAVED
    * position grain (p = t·nch + c), so a decoder that transposes,
    * drops, or reorders a channel shears the digest; sum_nch pins
    * STREAMINFO channel count through the decode; n_bad = 0 pins the
    * all-frames contract at every width. Bytes never shuffle. */
  private val multimodalFlacMulti = Q("q_multimodal_flacmulti",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"),
          (pmod(col("doc_id"), lit(6L)) + 3).cast("int").as("nch"))
        .withColumn("n",
          (lit(192) + lit(64) * pmod(col("seed"), lit(3))).cast("int"))
      val clips = Multimodal.flacMultiPatternColumn(params, "n", "seed",
        "nch")
      val dec = Multimodal.flacAudioColumn(clips, "media", FlacDigestMod)
      dec.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("fa").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("fa.n_frames").cast("long")).as("n_frames"),
          sum(col("fa.n_ch").cast("long")).as("sum_nch"),
          sum(col("fa.n_samples").cast("long")).as("n_samples"),
          sum(col("fa.sum_s")).as("sum_s"),
          min(col("fa.min_s")).as("min_s"),
          max(col("fa.max_s")).as("max_s"),
          pmod(sum(col("fa.dg")), lit(FlacDigestMod)).as("dg"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 32 AS INT) AS seed, " +
      "CAST(doc_id % 6 + 3 AS INT) AS nch FROM documents), " +
      "pp AS (SELECT doc_id, source, seed, nch, " +
      "192 + 64 * (seed % 3) AS n FROM p), " +
      "tt AS (SELECT doc_id, source, seed, nch, n, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM pp), " +
      "tc AS (SELECT doc_id, source, seed, nch, t, " +
      "CAST(unnest(range(0, nch)) AS INT) AS c FROM tt), " +
      "v AS (SELECT doc_id, source, t * nch + c AS pos, " +
      "CAST((seed * 97 + c * 41 + t * 31) % 4096 - 2048 AS INT) AS s " +
      "FROM tc), " +
      "cl AS (SELECT doc_id, any_value(source) AS source, " +
      "CAST(sum(s) AS BIGINT) AS sum_s, min(s) AS min_s, " +
      "max(s) AS max_s, " +
      s"CAST(sum(CAST(pos + 1 AS BIGINT) * (s + 32768)) AS BIGINT) " +
      s"% $FlacDigestMod AS dgc, " +
      "count(*) AS n_samples FROM v GROUP BY doc_id) " +
      "SELECT cl.source, count(*) AS n_clips, " +
      "CAST(0 AS BIGINT) AS n_bad, " +
      "CAST(sum((pp.n + 63) // 64) AS BIGINT) AS n_frames, " +
      "CAST(sum(pp.nch) AS BIGINT) AS sum_nch, " +
      "CAST(sum(cl.n_samples) AS BIGINT) AS n_samples, " +
      "CAST(sum(cl.sum_s) AS BIGINT) AS sum_s, " +
      "min(cl.min_s) AS min_s, max(cl.max_s) AS max_s, " +
      s"((CAST(sum(cl.dgc) AS BIGINT) % $FlacDigestMod) " +
      s"+ $FlacDigestMod) % $FlacDigestMod AS dg " +
      "FROM cl JOIN pp USING (doc_id) " +
      "GROUP BY cl.source ORDER BY cl.source")

  /** Real IMA-ADPCM decode ([[graft.ops.Adpcm]] — the LOSSY audio
    * codec beside FLAC's lossless leg): clips built from the standard
    * audio formula through the REAL 4-bit encoder (WAV fmt 0x11,
    * per-block predictor/index headers, nibble stream), decoded by
    * the RIFF walk + state machine. Lossy means decode(encode(s)) ≠ s
    * — so the oracle pins the DECODER STATE MACHINE itself: encoder
    * and decoder share one predictor/step-index recurrence (the
    * encoder predicts from its own decoded output, the IMA design),
    * and the per-block header reset makes that recurrence 64 steps
    * per block with blocks parallel — a recursive-CTE replay
    * reproduces every decoded sample, quantization error included,
    * byte-free. Registers only (sum/min/max/position digest) reach
    * the aggregate; bytes and samples never shuffle. */
  private val multimodalAdpcm = Q("q_multimodal_adpcm",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"))
        .withColumn("n", (lit(graft.ops.Adpcm.SamplesPerBlock) *
          (lit(2) + pmod(col("seed"), lit(6)))).cast("int"))
      val clips = Multimodal.adpcmPatternColumn(params, "n", "seed")
      val dec = Multimodal.adpcmAudioColumn(clips, "media", FlacDigestMod)
      dec.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("ad").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("ad.n_blocks").cast("long")).as("n_blocks"),
          sum(col("ad.n_samples").cast("long")).as("n_samples"),
          sum(col("ad.sum_d")).as("sum_d"),
          min(col("ad.min_d")).as("min_d"),
          max(col("ad.max_d")).as("max_d"),
          pmod(sum(col("ad.dg")), lit(FlacDigestMod)).as("dg"))
        .orderBy("source")
    }, {
      val st = graft.ops.Adpcm.StepTableSql
      val ix = graft.ops.Adpcm.IndexTableSql
      "WITH RECURSIVE " +
        "p AS (SELECT doc_id, source, " +
        "CAST((doc_id // 20) % 32 AS INT) AS seed FROM documents), " +
        "pp AS MATERIALIZED (SELECT doc_id, source, seed, " +
        "2 + (seed % 6) AS k FROM p), " +
        "blk AS MATERIALIZED (SELECT doc_id, seed, " +
        "CAST(unnest(range(0, k)) AS INT) AS b FROM pp), " +
        "rec AS (" +
        "SELECT doc_id, seed, b, 0 AS tl, " +
        "(seed*131 + (b*65)*(b*65)*7 + (b*65)*13) % 65536 - 32768 " +
        "AS pred, 0 AS idx FROM blk " +
        "UNION ALL SELECT doc_id, seed, b, tl + 1, " +
        "greatest(-32768, least(32767, CASE WHEN df < 0 " +
        "THEN pred - delta ELSE pred + delta END)) AS pred, " +
        s"greatest(0, least(88, idx + ($ix)[c4*4 + c2*2 + c1 + 1])) " +
        "AS idx FROM (" +
        "SELECT *, (stp // 8) + c4 * stp + c2 * (stp // 2) + " +
        "c1 * (stp // 4) AS delta FROM (" +
        "SELECT *, CASE WHEN r2 >= stp // 4 THEN 1 ELSE 0 END AS c1 " +
        "FROM (SELECT *, CASE WHEN r1 >= stp // 2 THEN 1 ELSE 0 END " +
        "AS c2, r1 - CASE WHEN r1 >= stp // 2 THEN stp // 2 " +
        "ELSE 0 END AS r2 FROM (" +
        "SELECT *, CASE WHEN ad0 >= stp THEN 1 ELSE 0 END AS c4, " +
        "ad0 - CASE WHEN ad0 >= stp THEN stp ELSE 0 END AS r1 FROM (" +
        "SELECT r.doc_id, r.seed, r.b, r.tl, r.pred, r.idx, " +
        s"($st)[r.idx + 1] AS stp, " +
        "((r.seed*131 + (r.b*65 + r.tl + 1)*(r.b*65 + r.tl + 1)*7 + " +
        "(r.b*65 + r.tl + 1)*13) % 65536 - 32768) - r.pred AS df, " +
        "abs(((r.seed*131 + (r.b*65 + r.tl + 1)*(r.b*65 + r.tl + 1)*7 " +
        "+ (r.b*65 + r.tl + 1)*13) % 65536 - 32768) - r.pred) AS ad0 " +
        "FROM rec r WHERE r.tl < 64))))) ), " +
        "cl AS (SELECT doc_id, CAST(sum(pred) AS BIGINT) AS sum_d, " +
        "min(pred) AS min_d, max(pred) AS max_d, " +
        "count(*) AS n_samples, " +
        "CAST(sum((b*65 + tl + 1) * (pred + 32768)) AS BIGINT) " +
        s"% $FlacDigestMod AS dg FROM rec GROUP BY doc_id) " +
        "SELECT pp.source, count(*) AS n_clips, " +
        "CAST(0 AS BIGINT) AS n_bad, " +
        "CAST(sum(pp.k) AS BIGINT) AS n_blocks, " +
        "CAST(sum(cl.n_samples) AS BIGINT) AS n_samples, " +
        "CAST(sum(cl.sum_d) AS BIGINT) AS sum_d, " +
        "min(cl.min_d) AS min_d, max(cl.max_d) AS max_d, " +
        s"CAST(sum(cl.dg) AS BIGINT) % $FlacDigestMod AS dg " +
        "FROM cl JOIN pp USING (doc_id) " +
        "GROUP BY pp.source ORDER BY pp.source"
    })

  /** STEREO + LPC FLAC decode ([[graft.ops.Flac.encodeStereo]] /
    * [[graft.ops.Flac.decode]] — the round-13 widening of the FLAC
    * subset): two phase-independent sawtooth channels through the
    * REAL encoder with Levinson–Durbin LPC analysis and all FOUR
    * channel assignments cycling per block (independent, left/side,
    * side/right, mid/side — side channels at 17 bits), decoded by
    * the verifying walk. Losslessness is the pin: every interleaved
    * sample's position-weighted digest, sum, min, max, frame count,
    * and the subframes-per-frame invariant (2 per stereo frame) come
    * straight from the channel formulas, byte-free — so the LPC
    * coefficient path, the 17-bit side reads, and every
    * decorrelation reconstruction must be exact for the digest to
    * match. Bytes never shuffle; registers only. */
  private val multimodalFlacStereo = Q("q_multimodal_flacstereo",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"))
        .withColumn("n",
          (lit(192) + lit(64) * pmod(col("seed"), lit(4))).cast("int"))
      val clips = Multimodal.flacStereoPatternColumn(params, "n", "seed")
      val dec = Multimodal.flacAudioColumn(clips, "media", FlacDigestMod)
      dec.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("fa").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("fa.n_frames").cast("long")).as("n_frames"),
          sum((col("fa.n_const") + col("fa.n_verbatim") +
            col("fa.n_fixed") + col("fa.n_lpc")).cast("long"))
            .as("n_subframes"),
          sum(col("fa.n_samples").cast("long")).as("n_samples"),
          sum(col("fa.sum_s")).as("sum_s"),
          // BIGINT like the oracle's least/greatest over its samples
          min(col("fa.min_s")).cast("long").as("min_s"),
          max(col("fa.max_s")).cast("long").as("max_s"),
          pmod(sum(col("fa.dg")), lit(FlacDigestMod)).as("dg"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 32 AS INT) AS seed FROM documents), " +
      "pp AS (SELECT doc_id, source, seed, " +
      "192 + 64 * (seed % 4) AS n FROM p), " +
      "tt AS (SELECT doc_id, source, seed, n, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM pp), " +
      "v AS (SELECT doc_id, source, t, " +
      "(seed * 97 + t * 31) % 4096 - 2048 AS l, " +
      "(seed * 61 + t * 29) % 4096 - 2048 AS r FROM tt), " +
      "cl AS (SELECT doc_id, any_value(source) AS source, " +
      "count(*) AS nu, CAST(sum(l + r) AS BIGINT) AS sum_s, " +
      "least(min(l), min(r)) AS min_s, " +
      "greatest(max(l), max(r)) AS max_s, " +
      "CAST(sum((2*t + 1) * (l + 32768) + (2*t + 2) * (r + 32768)) " +
      s"AS BIGINT) % $FlacDigestMod AS dg FROM v GROUP BY doc_id) " +
      "SELECT cl.source, count(*) AS n_clips, " +
      "CAST(0 AS BIGINT) AS n_bad, " +
      "CAST(sum(pp.n // 64) AS BIGINT) AS n_frames, " +
      "CAST(sum(2 * (pp.n // 64)) AS BIGINT) AS n_subframes, " +
      "CAST(sum(2 * cl.nu) AS BIGINT) AS n_samples, " +
      "CAST(sum(cl.sum_s) AS BIGINT) AS sum_s, " +
      "min(cl.min_s) AS min_s, max(cl.max_s) AS max_s, " +
      s"CAST(sum(cl.dg) AS BIGINT) % $FlacDigestMod AS dg " +
      "FROM cl JOIN pp USING (doc_id) " +
      "GROUP BY cl.source ORDER BY cl.source")

  /** Cross-codec audio NEAR-dup by MFCC clip features
    * ([[graft.ops.Codecs.mfccClip]] over REAL FLAC and IMA-ADPCM
    * decode — the audio leg of the near-dup family): each doc's clip
    * is a 3-tone set chosen injectively by group (doc_id/20 mod 32)
    * with per-doc amplitudes and phases, so group members share
    * CONTENT but not bytes, and alternate codecs (even → FLAC, odd
    * → lossy ADPCM). Features: amplitude-invariant MFCC (c0 dropped,
    * energy-floor gated so lossy noise in silent bands reads as
    * floor on both sides) plus the top-3 mel-band key RECOVERED from
    * the audio — the blocking key, so candidates never go all-pairs:
    * same-key join, cosine ≥ 0.8 verify on candidates only,
    * transitive closure. The oracle predicts the whole partition
    * combinatorially from the injective tone-set map (planted
    * margins: within-group cosine ≥ 0.85 across codecs and the full
    * amp/phase class space, spec-pinned;
    * cross-group pairs are never candidates because their recovered
    * keys differ) — n_crosscodec pins that every group linked its
    * FLAC and ADPCM members THROUGH the codecs. Bytes and samples
    * never shuffle; only the feature struct does. */
  private val multimodalAudioSim = Q("q_multimodal_audiosim",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"))
      val clips = Multimodal.audioSimPatternColumn(params, "doc_id")
      // persisted narrow feature frame: it feeds both join sides and
      // the label/aggregate chain — unpersisted, the decode + FFT
      // kernel would run three times
      val feat = graft.core.CacheRegistry.track(
        Multimodal.audioMfccColumn(clips, "media")
          .select(col("doc_id"), col("am.codec").as("codec"),
            col("am.top_key").as("tk"), col("am.mfcc").as("m"),
            col("am").isNull.as("bad"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val a = feat.where(!col("bad")).select(col("doc_id").as("id_a"),
        col("tk"), col("m").as("ma"))
      val b = feat.where(!col("bad")).select(col("doc_id").as("id_b"),
        col("tk"), col("m").as("mb"))
      val pairs = a.join(b, Seq("tk"))
        .where(col("id_a") < col("id_b") &&
          Similarity.cosine(col("ma"), col("mb")) >= lit(0.8))
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val lab = feat
        .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("grp", coalesce(col("component"), col("doc_id")))
      val cs = lab.groupBy("grp").agg(count(lit(1)).as("sz"),
        countDistinct(col("codec")).as("ncodec"))
      lab.agg(count(lit(1)).as("n_clips"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"),
          sum(when(col("codec") === "flac", 1L).otherwise(0L))
            .as("n_flac"),
          sum(when(col("codec") === "adpcm", 1L).otherwise(0L))
            .as("n_adpcm"),
          sum(col("grp")).as("id_sum"))
        .crossJoin(cs.agg(count(lit(1)).as("n_groups"),
          max(col("sz")).as("max_group"),
          sum(col("sz") - 1L).as("n_redundant"),
          sum(when(col("ncodec") === 2, 1L).otherwise(0L))
            .as("n_crosscodec")))
    },
    "WITH g AS (SELECT doc_id, (doc_id // 20) % 32 AS grp, " +
      "doc_id % 2 AS par FROM documents), " +
      "c AS (SELECT grp, min(doc_id) AS comp, count(*) AS sz, " +
      "count(DISTINCT par) AS np FROM g GROUP BY grp) " +
      "SELECT (SELECT count(*) FROM g) AS n_clips, " +
      "CAST(0 AS BIGINT) AS n_bad, " +
      "(SELECT count(*) FROM g WHERE par = 0) AS n_flac, " +
      "(SELECT count(*) FROM g WHERE par = 1) AS n_adpcm, " +
      "(SELECT CAST(sum(comp * sz) AS BIGINT) FROM c) AS id_sum, " +
      "(SELECT count(*) FROM c) AS n_groups, " +
      "(SELECT CAST(max(sz) AS BIGINT) FROM c) AS max_group, " +
      "(SELECT CAST(sum(sz - 1) AS BIGINT) FROM c) AS n_redundant, " +
      "(SELECT count(*) FROM c WHERE np = 2) AS n_crosscodec")

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

  // ------------------------------------------- sampling / packing / rewrite

  /** Per-source keep rates for the stratified-sample oracle (domain
    * re-weighting: upsample some sources, downsample others). */
  private val SampleRates =
    Seq("src0" -> 0.1, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75)
  private val SampleDefault = 0.4

  /** Deterministic hash-threshold stratified sampling: membership is a
    * pure function of doc_id, so the id-sum checksum pins the EXACT
    * kept set, not just its size. */
  private val sampleStratified = Q("q_sample_stratified",
    (s, d) => Sampling.stratifiedSample(docs(s, d), "doc_id", "source",
        SampleRates.toMap, SampleDefault)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("source"),
    {
      val cases = SampleRates.map { case (g, r) => s"WHEN '$g' THEN $r" }
        .mkString(" ")
      "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents " +
        s"WHERE ${Sampling.HashFractionSql("doc_id")} < " +
        s"CASE source $cases ELSE $SampleDefault END " +
        "GROUP BY source ORDER BY source"
    })

  /** Temperature-flattened domain mixture toward a fixed row budget:
    * per-source kept counts, id checksum, and the derived rate. */
  private val TempAlpha = 0.5
  private val TempTarget = 200.0
  private val sampleTemperature = Q("q_sample_temperature",
    (s, d) => Sampling.temperatureSample(docs(s, d), "doc_id", "source",
        TempAlpha, TempTarget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
        round(min(col("sample_rate")), 5).as("rate"))
      .orderBy("source"),
    "WITH c AS (SELECT source, count(*) AS n FROM documents " +
      "GROUP BY source), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c), " +
      "w AS (SELECT source, n, pow(CAST(n AS DOUBLE) / " +
      s"CAST(tot AS DOUBLE), $TempAlpha) AS w FROM c CROSS JOIN t), " +
      "sw AS (SELECT sum(w) AS sw FROM w), " +
      "r AS (SELECT source, least(1.0, " +
      s"$TempTarget * (w / sw) / CAST(n AS DOUBLE)) AS rate " +
      "FROM w CROSS JOIN sw), " +
      "kept AS (SELECT d.source, d.doc_id, r.rate FROM documents d " +
      "JOIN r USING (source) " +
      s"WHERE ${Sampling.HashFractionSql("d.doc_id")} < r.rate) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "round(min(rate), 5) AS rate FROM kept " +
      "GROUP BY source ORDER BY source")

  /** Epoch factors for the repeat mix: >1 (integer + fractional part),
    * <1 (pure down-sample), exactly 1, and a fractional default. */
  private val RepFactors = Map("src0" -> 2.4, "src1" -> 0.35,
    "src17" -> 3.0, "src5" -> 1.0)
  private val RepDefault = 1.25

  /** Repeat-factor (epoch) mixing: each source's docs emitted ⌊f⌋ or
    * ⌈f⌉ times (salted-hash fractional draw), with an `epoch` index
    * per copy — the LLaMA-style "fractional epochs per source" mix
    * stage. The checksum Σ id·(epoch+1) pins the exact multiset of
    * emitted (doc, epoch) pairs cross-engine; max_epoch pins the
    * fan-out bound per source. */
  private val sampleRepeat = Q("q_sample_repeat",
    (s, d) => Sampling.repeatFactorSample(docs(s, d), "doc_id", "source",
        RepFactors, RepDefault)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id") * (col("epoch") + lit(1L))).as("checksum"),
        max(col("epoch")).as("max_epoch"))
      .orderBy("source"),
    "WITH f AS (SELECT doc_id, source, CASE " +
      RepFactors.map { case (g, r) =>
        s"WHEN source = '$g' THEN CAST($r AS DOUBLE) " }.mkString +
      s"ELSE CAST($RepDefault AS DOUBLE) END AS f FROM documents), " +
      "n AS (SELECT doc_id, source, CAST(floor(f) AS BIGINT) + " +
      s"(CASE WHEN ${Sampling.RepeatDrawSql("doc_id")} < f - floor(f) " +
      "THEN 1 ELSE 0 END) AS n FROM f), " +
      "e AS (SELECT doc_id, source, unnest(range(0, n)) AS epoch " +
      "FROM n WHERE n >= 1) " +
      "SELECT source, count(*) AS n_rows, " +
      "count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS checksum, " +
      "CAST(max(epoch) AS BIGINT) AS max_epoch " +
      "FROM e GROUP BY source ORDER BY source")

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

  private val PackWindow = 128
  private val PackShards = 4

  /** Weighted sample without replacement (Efraimidis–Spirakis
    * exponential ranks over the deterministic hash draw): longer docs
    * proportionally likelier; exactly WeightedN rows, TakeOrdered
    * shape, engine-portable order key. */
  private val WeightedN = 60
  private val sampleWeighted = Q("q_sample_weighted",
    (s, d) => Sampling.sampleWeighted(docs(s, d), "doc_id",
      col("n_chars"), WeightedN).select("doc_id", "source", "n_chars"),
    "SELECT doc_id, source, n_chars FROM documents " +
      s"ORDER BY ${Sampling.WeightedKeySql("doc_id", "n_chars")}, doc_id " +
      s"LIMIT $WeightedN")

  /** DSIR importance resampling toward a target domain: hashed
    * unigram+bigram bucket distributions (one conditional aggregate,
    * ≤ 256 rows), per-doc log importance weight as a pure map over
    * the inlined log-ratio table, Gumbel top-n selection. The oracle
    * is an independent join-based formulation of the same
    * distributions; the selected per-source sets are pinned by
    * integer id/feature sums. */
  private val DsirN = 150
  private val DsirTarget = "src0"
  private val sampleDsir = Q("q_sample_dsir",
    (s, d) => {
      val d0 = docs(s, d)
      val ratios = Dsir.logRatios(d0, "text",
        col("source") === lit(DsirTarget))
      val w = Dsir.importanceWeights(d0, "text", ratios)
      Dsir.resample(w, "doc_id", DsirN)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_feats")).as("n_feats"),
          round(avg(col("log_w")), 5).as("avg_logw"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      s"f0 AS (SELECT doc_id, source, ${Dsir.BucketListSql("hl")} AS bl " +
      "FROM t), " +
      "f AS (SELECT doc_id, source, unnest(bl) AS b FROM f0), " +
      "cnt AS (SELECT b, count(*) AS nr, sum(CASE WHEN source = " +
      s"'$DsirTarget' THEN 1 ELSE 0 END) AS nt FROM f GROUP BY b), " +
      "tot AS (SELECT sum(nr) AS rt, sum(nt) AS tt FROM cnt), " +
      s"dom AS (SELECT range AS b FROM range(0, ${Dsir.NumBuckets})), " +
      "delta AS (SELECT dom.b AS b, " +
      "ln((coalesce(cnt.nt, 0) + 1.0) / " +
      s"CAST(tot.tt + ${Dsir.NumBuckets} AS DOUBLE)) - " +
      "ln((coalesce(cnt.nr, 0) + 1.0) / " +
      s"CAST(tot.rt + ${Dsir.NumBuckets} AS DOUBLE)) AS dl " +
      "FROM dom LEFT JOIN cnt ON dom.b = cnt.b CROSS JOIN tot), " +
      "w AS (SELECT doc_id, any_value(source) AS source, " +
      "sum(dl) AS logw, count(*) AS nf FROM f JOIN delta USING (b) " +
      "GROUP BY doc_id), " +
      "sel AS (SELECT * FROM w ORDER BY " +
      s"${Dsir.ResampleKeySql("doc_id")} DESC, doc_id ASC " +
      s"LIMIT $DsirN) " +
      "SELECT source, count(*) AS n_sel, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "CAST(sum(nf) AS BIGINT) AS n_feats, " +
      "round(avg(logw), 5) AS avg_logw " +
      "FROM sel GROUP BY source ORDER BY source")

  /** Robust (median/MAD) outlier flagging: med and MAD both come from
    * the portable histogram sketch — two sketch passes (each one
    * partial-agg'd scan; the second's input is x crossJoined with the
    * broadcast one-row median frame, so there is NO driver
    * round-trip), then one flag scan at the classic robust z-score
    * rule |x − med| > 3·1.4826·MAD. Mean/stddev outlier rules move
    * with the outliers they hunt; the median/MAD pair does not —
    * and the integer sketch registers make med, MAD, and the exact
    * flagged id set engine-identical. */
  /** Planted gross outliers (clamped into the top sketch bucket;
    * |x − med| far past 3·1.4826·MAD) — the rule must flag EXACTLY
    * these, pinned by the id checksum. */
  private val MadOutlierRows = Seq((960001L, "srcM", 5000.0),
    (960002L, "srcM", 4000.0), (960003L, "srcM", 290.0))

  private val statsMad = Q("q_stats_mad",
    (s, d) => {
      import s.implicits._
      val base = docs(s, d).select(col("doc_id"), col("source"),
        col("n_chars").cast("double").as("x"))
        .unionByName(MadOutlierRows.toDF("doc_id", "source", "x"))
      val med = graft.ops.Sketches.histogramQuantiles(base, col("x"),
        lo = 0.0, hi = 640.0, nBuckets = 64, qs = Seq(0.5))
        .select(col("p50"))
      val withMed = base.crossJoin(broadcast(med))
        .withColumn("ad", abs(col("x") - col("p50")))
      val mad = graft.ops.Sketches.histogramQuantiles(withMed, col("ad"),
        lo = 0.0, hi = 640.0, nBuckets = 64, qs = Seq(0.5))
        .select(col("p50").as("mad"))
      withMed.crossJoin(broadcast(mad))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ad") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          sum(when(col("ad") > lit(3.0) * lit(1.4826) * col("mad"),
            col("doc_id")).otherwise(0L)).as("outlier_ids"),
          round(min(col("p50")), 5).as("med"),
          round(min(col("mad")), 5).as("mad"))
        .orderBy("source")
    }, {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      val vals = MadOutlierRows.map { case (id, src, x) =>
        s"($id, '$src', $x)" }.mkString(", ")
      "WITH sc AS (SELECT doc_id, source, n_chars::DOUBLE AS x " +
        s"FROM documents UNION ALL SELECT * FROM (VALUES $vals) " +
        "AS v(doc_id, source, x)), " +
        s"h1 AS (SELECT ${BucketSql("x", 0.0, 640.0, 64)} AS b FROM sc), " +
        "hist1 AS (SELECT b, count(*) AS cnt FROM h1 GROUP BY b), " +
        "c1 AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER () AS n FROM hist1), " +
        s"m AS (SELECT ${QuantileSql(0.5, 0.0, 640.0, 64)} AS p50 " +
        "FROM c1), " +
        "dd AS (SELECT doc_id, source, x, p50, abs(x - p50) AS ad " +
        "FROM sc CROSS JOIN m), " +
        s"h2 AS (SELECT ${BucketSql("ad", 0.0, 640.0, 64)} AS b FROM dd), " +
        "hist2 AS (SELECT b, count(*) AS cnt FROM h2 GROUP BY b), " +
        "c2 AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER () AS n FROM hist2), " +
        s"md AS (SELECT ${QuantileSql(0.5, 0.0, 640.0, 64)} AS mad " +
        "FROM c2) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN ad > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_outliers, " +
        "CAST(sum(CASE WHEN ad > 3.0 * 1.4826 * mad THEN doc_id " +
        "ELSE 0 END) AS BIGINT) AS outlier_ids, " +
        "round(min(p50), 5) AS med, round(min(mad), 5) AS mad " +
        "FROM dd CROSS JOIN md GROUP BY source ORDER BY source"
    })

  /** Winsorization: clip the quality score at the sketch-derived
    * p10/p90 (the outlier-robust normalization step before a score
    * feeds weighting or mixing). Both bounds come from the SAME
    * portable histogram sketch pass and broadcast back as a one-row
    * frame — identical integer registers ⇒ identical interpolated
    * bounds ⇒ exact clipped sums cross-engine. The scored projection
    * persists MEMORY_AND_DISK (the selectBudget doctrine: 3 narrow
    * columns, spill-safe at any scale) so the classifier features
    * compute ONCE instead of once under the sketch pass and again
    * under the clip pass. */
  private val statsWinsorize = Q("q_stats_winsorize",
    (s, d) => {
      val scored = graft.core.CacheRegistry.track(
        graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .select("doc_id", "source", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bounds = graft.ops.Sketches.histogramQuantiles(scored,
        col("score"), lo = 0.0, hi = 1.0, nBuckets = 64,
        qs = Seq(0.1, 0.9)).select("p10", "p90")
      scored.crossJoin(broadcast(bounds))
        .select(col("source"),
          col("score"), col("p10"), col("p90"),
          least(greatest(col("score"), col("p10")), col("p90")).as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") < col("p10"), 1L).otherwise(0L))
            .as("n_clip_lo"),
          sum(when(col("score") > col("p90"), 1L).otherwise(0L))
            .as("n_clip_hi"),
          round(avg(col("w")), 5).as("avg_wins"),
          round(min(col("p10")), 5).as("p10"),
          round(min(col("p90")), 5).as("p90"))
        .orderBy("source")
    },
    s"WITH sc AS (SELECT doc_id, source, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      s"h AS (SELECT ${graft.ops.Sketches.BucketSql("score", 0.0, 1.0, 64)} " +
      "AS b FROM sc), " +
      "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
      "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
      "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "sum(cnt) OVER () AS n FROM hist), " +
      s"q AS (SELECT ${graft.ops.Sketches.QuantileSql(0.1, 0.0, 1.0, 64)} " +
      s"AS p10, ${graft.ops.Sketches.QuantileSql(0.9, 0.0, 1.0, 64)} " +
      "AS p90 FROM c) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN score < p10 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_clip_lo, " +
      "CAST(sum(CASE WHEN score > p90 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_clip_hi, " +
      "round(avg(least(greatest(score, p10), p90)), 5) AS avg_wins, " +
      "round(min(p10), 5) AS p10, round(min(p90), 5) AS p90 " +
      "FROM sc CROSS JOIN q GROUP BY source ORDER BY source")

  /** Per-domain cap: at most DomainCap docs per source, each group's
    * smallest hash draws, selected by the bounded TopK aggregate
    * (O(cap) mergeable state per group — never a rank Window; the hot
    * domain is exactly the one being capped). The id-sum pins the
    * exact survivor set per source. */
  private val DomainCap = 25
  private val sampleDomainCap = Q("q_sample_domaincap",
    (s, d) => Sampling.domainCap(docs(s, d), "doc_id", "source", DomainCap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("source"),
    "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM (" +
      "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
      s"ORDER BY ${Sampling.HashFractionSql("doc_id")} ASC, doc_id ASC) " +
      s"AS rk FROM documents) WHERE rk <= $DomainCap " +
      "GROUP BY source ORDER BY source")

  /** Top-quantile selection fully in-plan: the classifier score's
    * p75 comes from the portable histogram sketch (one partial-agg'd
    * pass, ≤ 64 rows), broadcasts back as a one-row frame, and the
    * filter keeps docs at or above it — "keep the best 25%" with no
    * driver round-trip, the same shape at any corpus size. Both
    * engines derive the identical interpolated threshold from
    * identical integer registers, so the kept set is exact. */
  private val sampleTopQuantile = Q("q_sample_topquantile",
    (s, d) => {
      // persisted (3 narrow columns, the winsorize/selectBudget
      // doctrine): the scored frame feeds BOTH the sketch pass and
      // the keep filter — unpersisted, the classifier chain runs
      // twice per row (PlanAudit r11)
      val scored = graft.core.CacheRegistry.track(
        graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .select("doc_id", "source", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val qrow = graft.ops.Sketches.histogramQuantiles(scored,
        col("score"), lo = 0.0, hi = 1.0, nBuckets = 64, qs = Seq(0.75))
        .select("p75")
      scored.crossJoin(broadcast(qrow))
        .where(col("score") >= col("p75"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("score")), 5).as("avg_score"),
          round(min(col("p75")), 5).as("p75"))
        .orderBy("source")
    },
    s"WITH sc AS (SELECT doc_id, source, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      s"h AS (SELECT ${graft.ops.Sketches.BucketSql("score", 0.0, 1.0, 64)} " +
      "AS b FROM sc), " +
      "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
      "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
      "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "sum(cnt) OVER () AS n FROM hist), " +
      s"q AS (SELECT ${graft.ops.Sketches.QuantileSql(0.75, 0.0, 1.0, 64)} " +
      "AS p75 FROM c) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "round(avg(score), 5) AS avg_score, round(min(p75), 5) AS p75 " +
      "FROM sc CROSS JOIN q WHERE score >= p75 " +
      "GROUP BY source ORDER BY source")

  /** Per-domain top-quantile selection: each source keeps its own
    * best 25% by classifier score — the per-language/per-source
    * quality floor a multilingual pipeline needs (a global floor
    * over-prunes weak domains). Thresholds from the grouped histogram
    * sketch broadcast back; kept sets pinned by id sums. */
  private val sampleTopQuantileBy = Q("q_sample_topquantile_by",
    (s, d) => {
      // persisted for the same two-consumer reason as
      // q_sample_topquantile (grouped sketch + keep filter)
      val scored = graft.core.CacheRegistry.track(
        graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .select("doc_id", "source", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      Sampling.topQuantileByGroup(scored, "source", "score",
          q = 0.75, lo = 0.0, hi = 1.0, nBuckets = 64)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("score")), 5).as("avg_score"),
          round(min(col("threshold")), 5).as("p75"))
        .orderBy("source")
    },
    {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      "WITH sc AS (SELECT doc_id, source, " +
        s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
        "FROM documents), " +
        s"h AS (SELECT source, ${BucketSql("score", 0.0, 1.0, 64)} " +
        "AS b FROM sc), " +
        "hist AS (SELECT source, b, count(*) AS cnt FROM h GROUP BY 1, 2), " +
        "c AS (SELECT source, b, cnt, sum(cnt) OVER (PARTITION BY source " +
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(cnt) OVER (PARTITION BY source) AS n FROM hist), " +
        s"q AS (SELECT source, ${QuantileSql(0.75, 0.0, 1.0, 64)} " +
        "AS p75 FROM c GROUP BY source) " +
        "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "round(avg(score), 5) AS avg_score, round(min(p75), 5) AS p75 " +
        "FROM sc JOIN q USING (source) WHERE score >= p75 " +
        "GROUP BY source ORDER BY source"
    })

  /** Exact-n deterministic sample: the FixedN smallest hash draws.
    * Returns the rows themselves (ids + source) — membership is the
    * verified property; TakeOrderedAndProject is the verified shape. */
  private val FixedN = 100
  private val sampleFixedN = Q("q_sample_fixedn",
    (s, d) => Sampling.sampleFixedN(docs(s, d), "doc_id", FixedN)
      .select("doc_id", "source"),
    "SELECT doc_id, source FROM documents " +
      s"ORDER BY ${Sampling.HashFractionSql("doc_id")}, doc_id " +
      s"LIMIT $FixedN")

  /** Per-group top-k without a rank Window: the bounded [[TopK]]
    * aggregate (O(k) mergeable state per group) picks each source's
    * 3 longest docs; a group's whole row set never funnels through
    * one task. Ties break to the lower id on both engines. */
  private val topkPerGroup = Q("q_topk_per_group",
    (s, d) => docs(s, d)
      .groupBy("source")
      .agg(graft.ops.TopK.topK(col("n_chars").cast("double"),
        col("doc_id"), 3).as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t.id").as("doc_id"),
        col("t.score").cast("long").as("n_chars"))
      .orderBy(col("source"), col("n_chars").desc, col("doc_id")),
    "SELECT source, doc_id, n_chars FROM (" +
      "SELECT source, doc_id, n_chars, row_number() OVER (" +
      "PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk " +
      "FROM documents) WHERE rk <= 3 " +
      "ORDER BY source, n_chars DESC, doc_id")

  /** Corpus data card: ROLLUP(source, lang) — per-cell, per-source,
    * and grand-total doc/char/token stats in ONE pass (the grouping-
    * sets template category; partial-agg'd like any hash aggregate). */
  private val statsRollup = Q("q_stats_rollup",
    (s, d) => docs(s, d)
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("tokens"),
        round(avg(col("n_chars")), 5).as("avg_chars"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("chars"), col("tokens"), col("avg_chars"))
      .orderBy("source", "lang"),
    "SELECT coalesce(source, 'ALL') AS source, " +
      "coalesce(lang, 'ALL') AS lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens, " +
      "round(avg(n_chars), 5) AS avg_chars FROM documents " +
      "GROUP BY ROLLUP(source, lang) ORDER BY source, lang")

  /** Exact correlation data card over lineitem's numeric columns:
    * int64 fixed-point moment sums (ONE partial-agg'd pass, single-
    * row output, partition-order-invariant) + the Pearson formula on
    * the exact sums — both the integer register values AND the
    * derived correlations must match cross-engine. */
  private val statsCorr = Q("q_stats_corr",
    (s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val cols = Seq(
        "qty" -> col("l_quantity") / 64.0,
        "price" -> col("l_extendedprice") / 131072.0,
        "disc" -> col("l_discount"))
      graft.ops.Stats.withCorrs(
        graft.ops.Stats.momentSums(li, cols),
        cols.map(_._1))
    }, {
      import graft.ops.Stats.FxSql
      val defs = Seq("qty" -> "l_quantity / 64.0",
        "price" -> "l_extendedprice / 131072.0",
        "disc" -> "l_discount")
      val q = defs.map { case (n, e) => s"${FxSql(e)} AS $n" }
        .mkString(", ")
      val sums = defs.map { case (n, _) => s"CAST(sum($n) AS BIGINT) AS s_$n" } ++
        defs.map { case (n, _) => s"CAST(sum($n * $n) AS BIGINT) AS ss_$n" } ++
        defs.map(_._1).combinations(2).map { case Seq(a, b) =>
          s"CAST(sum($a * $b) AS BIGINT) AS sp_${a}_$b" }
      val corrs = defs.map(_._1).combinations(2).map { case Seq(a, b) =>
        val cov = s"(CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) - " +
          s"CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
        val va = s"(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - " +
          s"CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))"
        val vb = s"(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - " +
          s"CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))"
        s"round($cov / sqrt($va * $vb), 5) AS corr_${a}_$b"
      }.mkString(", ")
      s"WITH t AS (SELECT $q FROM lineitem), " +
        s"m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM t) " +
        s"SELECT m.*, $corrs FROM m"
    })

  /** Output-shard manifest — the "ship it to training" step: docs
    * assign to shards by the portable hash (deterministic, ingest-
    * stable), and each shard's manifest row carries count, char mass,
    * and a content checksum (Σ text-hash) that any engine can rebuild
    * to certify a delivered shard. One map-side-partial aggregate. */
  private val NShards = 8
  private val shardManifest = Q("q_shard_manifest",
    (s, d) => manifestOf(docs(s, d), NShards),
    manifestSql("documents", NShards))

  /** Contiguous-token sequence packing: per-shard window counts,
    * boundary-crossing docs, and the start-offset checksum (pins every
    * doc's position in its shard's token stream). */
  private val packSequences = Q("q_pack_sequences",
    (s, d) => Sampling.packSequences(docs(s, d), "doc_id", "text",
        PackWindow, PackShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        (max(col("last_window")) + 1).as("n_windows"),
        sum(col("n_tokens")).as("toks"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("n_crossing"),
        sum(col("start_off")).as("off_sum"))
      .orderBy("shard"),
    "WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard FROM documents), " +
      "p AS (SELECT shard, nt, sum(nt) OVER (PARTITION BY shard " +
      "ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt AS so FROM t) " +
      "SELECT shard, count(*) AS n_docs, " +
      s"CAST(max((so + nt - 1) // $PackWindow) + 1 AS BIGINT) AS n_windows, " +
      "CAST(sum(nt) AS BIGINT) AS toks, " +
      s"CAST(sum(CASE WHEN so // $PackWindow <> " +
      s"(so + nt - 1) // $PackWindow THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_crossing, CAST(sum(so) AS BIGINT) AS off_sum " +
      "FROM p GROUP BY shard ORDER BY shard")

  /** Modulus for the doc→bin assignment checksum: each term < 2³⁰, so
    * the sum stays inside int64 past 10⁹ docs in both engines. */
  private val AssignMod = 1000000007L

  /** No-split greedy packing (SFT layout — docs never cross a
    * sequence boundary): per-shard bin counts, truncations, padding
    * waste, and a per-doc (id, bin) assignment checksum that only
    * matches if both engines walk every shard's greedy state machine
    * identically. The oracle replays the walk as a recursive CTE —
    * one row per (shard, step) — because greedy packing is
    * irreducibly sequential per shard; the Spark side runs the same
    * walk as a one-pass O(1)-state kernel per shard
    * ([[Sampling.packNoSplit]]). */
  private val packNoSplit = Q("q_pack_nosplit",
    (s, d) => Sampling.packNoSplit(docs(s, d), "doc_id", "text",
        PackWindow, PackShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin")) + 1).as("n_bins"),
        sum(col("t")).as("toks"),
        sum(when(col("truncated"), 1L).otherwise(0L)).as("n_trunc"),
        ((max(col("bin")) + 1) * PackWindow - sum(col("t"))).as("waste"),
        sum((col("doc_id") % AssignMod * 31 + col("bin") % AssignMod)
          % AssignMod).as("assign_sum"))
      .orderBy("shard"),
    "WITH RECURSIVE t AS (SELECT doc_id, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard, " +
      "len(string_split(text, ' ')) AS nt FROM documents), " +
      s"r AS (SELECT doc_id, shard, nt, least(nt, $PackWindow) AS tt, " +
      "row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn " +
      "FROM t), " +
      "walk AS (" +
      "SELECT shard, rn, doc_id, nt, tt, CAST(0 AS BIGINT) AS bin, " +
      "tt AS fill FROM r WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT r.shard, r.rn, r.doc_id, r.nt, r.tt, " +
      s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.bin " +
      "ELSE w.bin + 1 END, " +
      s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.fill + r.tt " +
      "ELSE r.tt END " +
      "FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1) " +
      "SELECT shard, count(*) AS n_docs, " +
      "CAST(max(bin) + 1 AS BIGINT) AS n_bins, " +
      "CAST(sum(tt) AS BIGINT) AS toks, " +
      s"CAST(sum(CASE WHEN nt > $PackWindow THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_trunc, " +
      s"CAST((max(bin) + 1) * $PackWindow - sum(tt) AS BIGINT) AS waste, " +
      s"CAST(sum((doc_id % $AssignMod * 31 + bin % $AssignMod) " +
      s"% $AssignMod) AS BIGINT) AS assign_sum " +
      "FROM walk GROUP BY shard ORDER BY shard")

  /** Length-bucketed dynamic batching: per-bucket batch counts and
    * the padding each batch actually pays (padded to its own max),
    * with a per-doc (id, slot) checksum pinning the complete batch
    * layout cross-engine. The fairseq/T5 batching layout — the
    * padding-waste ledger a training-efficiency pass reads. */
  private val LenG = 16
  private val LenB = 8
  private val packLenBatch = Q("q_pack_lenbatch",
    (s, d) => {
      val p = Sampling.lengthBucketBatches(docs(s, d), "doc_id", "text",
        LenG, LenB, PackShards)
      p.groupBy("shard", "bucket", "batch")
        .agg(count(lit(1)).as("cnt"),
          max(col("n_tokens")).as("mx"),
          sum(col("n_tokens")).as("sn"),
          sum((col("doc_id") % AssignMod * 31
            + col("batch") * LenB + col("pos")) % AssignMod).as("cks"))
        .groupBy("bucket")
        .agg(sum(col("cnt")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("mx") * col("cnt") - col("sn")).as("sum_padding"),
          sum(col("cks")).as("assign_sum"))
        .orderBy("bucket")
    },
    "WITH t AS (SELECT doc_id, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard, " +
      "len(string_split(text, ' ')) AS nt FROM documents), " +
      s"b AS (SELECT doc_id, shard, nt, (nt + ${LenG - 1}) // $LenG " +
      "AS bucket FROM t), " +
      "r AS (SELECT doc_id, shard, nt, bucket, " +
      "row_number() OVER (PARTITION BY shard, bucket ORDER BY doc_id) " +
      "AS rn FROM b) " +
      "SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_docs, " +
      "count(*) AS n_batches, " +
      "CAST(sum(mx * cnt - sn) AS BIGINT) AS sum_padding, " +
      "CAST(sum(cks) AS BIGINT) AS assign_sum " +
      "FROM (SELECT shard, bucket, (rn - 1) // " + LenB + " AS batch, " +
      "count(*) AS cnt, max(nt) AS mx, sum(nt) AS sn, " +
      s"sum((doc_id % $AssignMod * 31 + rn - 1) % $AssignMod) AS cks " +
      s"FROM r GROUP BY shard, bucket, (rn - 1) // $LenB) bt " +
      "GROUP BY bucket ORDER BY bucket")

  /** No-split packing on LEARNED-BPE piece counts (q_pack_nosplit ×
    * q_text_fertility): learn the merge table, segment every word
    * occurrence, and pack per-doc PIECE counts — the layout a
    * trainer actually sees (whitespace tokens under-count sequence
    * length by the fertility factor, so bins sized on them overflow
    * at train time). The oracle replays learn (CTE rounds) → apply
    * (two-pass delimited replace) → per-doc piece sum → the same
    * recursive greedy walk as q_pack_nosplit. Spark side: piece
    * counting runs in the pre-shuffle projection
    * ([[Sampling.packNoSplitBy]]) — the text never moves; only
    * (shard, id, n_pieces) shuffles. */
  private val PackBpeWindow = 1024
  private val packBpe = Q("q_pack_bpe",
    (s, d) => {
      val d0 = docs(s, d)
      val merges = graft.ops.Bpe.learn(d0, "text", BpeRounds)
        .map(m => (m.a, m.b))
      // fused one-pass piece-count kernel; the composable
      // filter/aggregate/segment form is its executable spec (BpeSpec)
      val np = graft.ops.TextHashExpressions
        .bpePieceCount(col("text"), merges)
      Sampling.packNoSplitBy(d0, "doc_id", np, PackBpeWindow, PackShards)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          (max(col("bin")) + 1).as("n_bins"),
          sum(col("t")).as("toks"),
          sum(when(col("truncated"), 1L).otherwise(0L)).as("n_trunc"),
          ((max(col("bin")) + 1) * PackBpeWindow - sum(col("t")))
            .as("waste"),
          sum((col("doc_id") % AssignMod * 31 + col("bin") % AssignMod)
            % AssignMod).as("assign_sum"))
        .orderBy("shard")
    }, {
      val D = graft.ops.Bpe.DelimSql
      // merges apply on the DISTINCT-word grain (np is a pure
      // function of the word) and join back by token — occurrence-
      // grain application timed out DuckDB at sf0.1
      val applies = (1 to BpeRounds).map { r =>
        val prev = if (r == 1) "ws" else s"a${r - 1}"
        s"a$r AS (SELECT tok, replace(replace(seq, " +
          s"$D||a||$D||b||$D, $D||a||b||$D), " +
          s"$D||a||$D||b||$D, $D||a||b||$D) AS seq " +
          s"FROM $prev CROSS JOIN b$r)"
      }.mkString(", ")
      "WITH RECURSIVE " + bpeLearnCtes.stripPrefix("WITH ") +
        ", w AS (SELECT doc_id, tok FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D)), " +
        "wv AS (SELECT DISTINCT tok FROM w), " +
        s"ws AS (SELECT tok, $D || " +
        s"array_to_string(string_split(tok, ''), $D) || $D AS seq " +
        s"FROM wv), $applies, " +
        s"pc AS (SELECT tok, len(string_split(trim(seq, $D), $D)) " +
        s"AS np FROM a$BpeRounds), " +
        "ntd AS (SELECT d.doc_id, " +
        "CAST(coalesce(sum(wp.np), 0) AS BIGINT) AS nt " +
        "FROM documents d LEFT JOIN (SELECT w.doc_id, pc.np " +
        "FROM w JOIN pc USING (tok)) wp ON d.doc_id = wp.doc_id " +
        "GROUP BY d.doc_id), " +
        "t2 AS (SELECT doc_id, " +
        s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
        s"% $PackShards AS shard, nt FROM ntd), " +
        // MATERIALIZED: the recursive walk joins r2 once per step —
        // left inline, DuckDB re-evaluates the whole BPE chain every
        // iteration (measured: timeout at sf0.1 vs 1.4 s materialized)
        "r2 AS MATERIALIZED (SELECT doc_id, shard, nt, " +
        s"least(nt, $PackBpeWindow) AS tt, " +
        "row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn " +
        "FROM t2), " +
        "walk AS (" +
        "SELECT shard, rn, doc_id, nt, tt, CAST(0 AS BIGINT) AS bin, " +
        "tt AS fill FROM r2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT r2.shard, r2.rn, r2.doc_id, r2.nt, r2.tt, " +
        s"CASE WHEN w2.fill + r2.tt <= $PackBpeWindow THEN w2.bin " +
        "ELSE w2.bin + 1 END, " +
        s"CASE WHEN w2.fill + r2.tt <= $PackBpeWindow " +
        "THEN w2.fill + r2.tt ELSE r2.tt END " +
        "FROM walk w2 JOIN r2 ON r2.shard = w2.shard " +
        "AND r2.rn = w2.rn + 1) " +
        "SELECT shard, count(*) AS n_docs, " +
        "CAST(max(bin) + 1 AS BIGINT) AS n_bins, " +
        "CAST(sum(tt) AS BIGINT) AS toks, " +
        s"CAST(sum(CASE WHEN nt > $PackBpeWindow THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_trunc, " +
        s"CAST((max(bin) + 1) * $PackBpeWindow - sum(tt) AS BIGINT) " +
        "AS waste, " +
        s"CAST(sum((doc_id % $AssignMod * 31 + bin % $AssignMod) " +
        s"% $AssignMod) AS BIGINT) AS assign_sum " +
        "FROM walk GROUP BY shard ORDER BY shard"
    })

  /** UniMax budget allocation (Chung et al. 2023): 2/5 of the corpus
    * token mass split across languages by integer water-filling with
    * a 3-epoch per-language cap — the language-balanced alternative
    * to temperature sampling. Every column integer-exact; `saturated`
    * marks languages whose epoch cap (not the budget) binds. */
  private val UnimaxNum = 2L
  private val UnimaxDen = 5L
  private val UnimaxEpochs = 3
  /** Per-domain token-budget selection — "fill each source's budget
    * (2/5 of its token mass) with its best-scoring docs": docs order
    * by (classifier score desc, id) within their source and keep
    * while the running token sum fits the budget — the curation
    * step that turns a quality score into an actual selected corpus
    * under a size target. Budgets are integer (mass·2 div 5) and the
    * running sum is integer, so the kept set is exact. Round 10: the
    * per-source sort window (parallelism = domain count — the one
    * shape in the repo that fought the 100× curve, 18.8× at 100×)
    * is replaced by [[Sampling.selectBudget]]'s histogram-threshold
    * refinement: scan-and-aggregate passes find each source's
    * (score, id) cut, and only the ≤ cap-doc boundary bucket is
    * resolved by the exact running-sum window. Same kept set — the
    * oracle SQL is unchanged. */
  private val ShufShards = 4
  private val ShufEpochs = 2
  private val SelBudgetNum = 2L
  private val SelBudgetDen = 5L
  private def budgetScored(s: org.apache.spark.sql.SparkSession,
                           d: String) =
    graft.ops.QualityClassifier
      .withFeatures(docs(s, d), "text")
      .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
      .withColumn("nt",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
  private val sampleBudget = Q("q_sample_budget",
    (s, d) =>
      Sampling.selectBudget(budgetScored(s, d), "source", "score",
          "nt", "doc_id", SelBudgetNum, SelBudgetDen)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("nt")).as("toks_kept"),
          max(col("budget")).as("budget"),
          round(min(col("score")), 5).as("min_score"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
    "WITH s AS (SELECT doc_id, source, " +
      "len(string_split(text, ' ')) AS nt, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      "b AS (SELECT source, " +
      s"CAST(sum(nt) * $SelBudgetNum // $SelBudgetDen AS BIGINT) " +
      "AS budget FROM s GROUP BY source), " +
      "r AS (SELECT s.*, sum(nt) OVER (PARTITION BY source " +
      "ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM s), " +
      "k AS (SELECT r.*, b.budget FROM r JOIN b USING (source) " +
      "WHERE r.cum <= b.budget) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(nt) AS BIGINT) AS toks_kept, " +
      "CAST(max(budget) AS BIGINT) AS budget, " +
      "round(min(score), 5) AS min_score, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM k GROUP BY source ORDER BY source")

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

  /** Deterministic epoch-reshuffled training order
    * ([[Sampling.epochShuffle]]): per (epoch, shard) doc counts and a
    * Σ (rank·id) mod M order checksum — the checksum only matches if
    * both engines assign every doc the SAME position in the same
    * epoch-salted shard, i.e. the entire training order is pinned.
    * `n_moved`-style decorrelation is visible in the data: the same
    * doc lands in different shards across epochs because the shard
    * salt includes the epoch. */
  private val sampleShuffle = Q("q_sample_shuffle",
    (s, d) => Sampling.epochShuffle(docs(s, d), "doc_id",
        ShufShards, ShufEpochs)
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("rank") * col("doc_id")) % lit(AssignMod))
          .as("order_sum"))
      .orderBy("epoch", "shard"),
    "WITH e AS (SELECT doc_id, unnest(range(0, " +
      s"$ShufEpochs)) AS epoch FROM documents), " +
      "k AS (SELECT doc_id, epoch, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#shf#' || CAST(epoch AS VARCHAR)")} " +
      s"% $ShufShards AS shard, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#ord#' || CAST(epoch AS VARCHAR)")} " +
      "AS okey FROM e), " +
      "r AS (SELECT epoch, shard, doc_id, " +
      "row_number() OVER (PARTITION BY epoch, shard " +
      "ORDER BY okey, doc_id) - 1 AS rank FROM k) " +
      "SELECT epoch, shard, count(*) AS n_docs, " +
      s"CAST(sum((rank * doc_id) % $AssignMod) AS BIGINT) AS order_sum " +
      "FROM r GROUP BY 1, 2 ORDER BY 1, 2")

  /** Shared water-filling CTE chain (l → c → r → g) ending with the
    * per-language alloc expression — reused by the allocation table
    * and its realization so the two oracles can never diverge. */
  private def unimaxCtes: String =
    "l AS (SELECT lang, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks " +
      "FROM documents GROUP BY lang), " +
      s"c AS (SELECT lang, toks, toks * $UnimaxEpochs AS cap FROM l), " +
      "r AS (SELECT lang, toks, cap, " +
      "row_number() OVER (ORDER BY cap, lang) AS rk, " +
      "sum(cap) OVER (ORDER BY cap, lang ROWS UNBOUNDED PRECEDING) AS s, " +
      s"(SELECT $UnimaxNum * sum(toks) // $UnimaxDen FROM l) AS budget, " +
      "(SELECT count(*) FROM l) AS n FROM c), " +
      "g AS (SELECT max(budget) AS budget, max(n) AS n, " +
      "sum(CASE WHEN s + cap * (n - rk) <= budget THEN 1 ELSE 0 END) AS k, " +
      "coalesce(max(CASE WHEN s + cap * (n - rk) <= budget THEN s END), 0) " +
      "AS sk FROM r)"

  private val UnimaxAllocSql =
    "CAST(CASE WHEN r.rk <= g.k THEN r.cap " +
      "ELSE (g.budget - g.sk) // (g.n - g.k) END AS BIGINT)"

  private val mixUnimax = Q("q_mix_unimax",
    (s, d) => Sampling.unimaxAllocation(docs(s, d), "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        UnimaxNum, UnimaxDen, UnimaxEpochs)
      .orderBy("lang"),
    s"WITH $unimaxCtes " +
      "SELECT r.lang, r.toks, r.cap, " +
      s"$UnimaxAllocSql AS alloc, " +
      "r.rk <= g.k AS saturated " +
      "FROM r, g ORDER BY lang")

  /** UniMax REALIZED: the budget table becomes an actual (doc, epoch)
    * training multiset — f_l = alloc_l/toks_l fractional epochs per
    * language drive the repeat-factor emitter (⌊f⌋ copies always,
    * one more on a salted sub-fractional draw), so each language
    * contributes ≈ alloc_l tokens. The Σ id·(epoch+1) checksum pins
    * the exact multiset (the q_sample_repeat discipline); toks_real
    * lets a reader audit realized vs allocated mass. One corpus scan
    * + a language-grain broadcast; the fan-out is explode(sequence),
    * shuffle-free ([[Sampling.unimaxRealize]]). */
  private val mixUnimaxRealize = Q("q_mix_unimax_realize",
    (s, d) => Sampling.unimaxRealize(docs(s, d), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        UnimaxNum, UnimaxDen, UnimaxEpochs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id") * (col("epoch") + lit(1L))).as("checksum"),
        max(col("epoch")).as("max_epoch"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("toks_real"))
      .orderBy("lang"),
    s"WITH $unimaxCtes, " +
      s"a AS (SELECT r.lang, r.toks, $UnimaxAllocSql AS alloc " +
      "FROM r, g), " +
      "ff AS (SELECT lang, CAST(alloc AS DOUBLE) / CAST(toks AS DOUBLE) " +
      "AS f FROM a), " +
      "nn AS (SELECT d.doc_id, d.lang, " +
      "len(string_split(d.text, ' ')) AS nt, " +
      "CAST(floor(ff.f) AS BIGINT) + (CASE WHEN " +
      s"${Sampling.UnimaxDrawSql("d.doc_id")} < ff.f - floor(ff.f) " +
      "THEN 1 ELSE 0 END) AS n " +
      "FROM documents d JOIN ff USING (lang)), " +
      "e AS (SELECT doc_id, lang, nt, unnest(range(0, n)) AS epoch " +
      "FROM nn WHERE n >= 1) " +
      "SELECT lang, count(*) AS n_rows, " +
      "count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS checksum, " +
      "CAST(max(epoch) AS BIGINT) AS max_epoch, " +
      "CAST(sum(nt) AS BIGINT) AS toks_real " +
      "FROM e GROUP BY lang ORDER BY lang")

  private val SpanW = 4

  /** DuckDB chunk-fingerprint fold over `hl` at 0-based chunk index
    * `c` — same (acc·31 + h) mod M chain as
    * [[Dedup.chunkFingerprints]]. */
  private def chunkFpSql(w: Int): String =
    (2 to w).foldLeft(s"hl[c*$w+1]")((acc, k) =>
      s"(($acc) * 31 + hl[c*$w+$k]) % ${Dedup.NgramFpMod}")

  /** Span dedup (keep-first): the rewrite is verified bit-for-bit —
    * the clean-text hash checksum only matches if both engines keep
    * EXACTLY the same tokens in the same order for every doc. */
  private val dedupSpans = Q("q_dedup_spans",
    (s, d) => {
      val d0 = docs(s, d)
      val cleaned = Dedup.dedupSpansKeepFirst(d0, "text", "doc_id", SpanW)
      d0.select(col("doc_id"), col("source")).join(cleaned, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("modified"), 1L).otherwise(0L)).as("n_modified"),
          sum(col("n_tokens")).as("toks_total"),
          sum(col("n_removed")).as("toks_removed"),
          sum(TextAnalysis.tokenHash(col("text_clean")) % CleanSumMod)
            .as("clean_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      "hls AS (SELECT doc_id, source, ws, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in ws] AS hl, len(ws) AS nw FROM t), " +
      s"ch AS (SELECT doc_id, unnest([c for c in range(0, nw // $SpanW)]) " +
      s"AS cidx, unnest([${chunkFpSql(SpanW)} " +
      s"for c in range(0, nw // $SpanW)]) AS fp FROM hls), " +
      "st AS (SELECT fp, min(doc_id) AS keeper, " +
      "count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp), " +
      "rm AS (SELECT ch.doc_id, list(DISTINCT ch.cidx) AS rml FROM ch " +
      "JOIN st USING (fp) WHERE st.nd >= 2 AND ch.doc_id <> st.keeper " +
      "GROUP BY ch.doc_id), " +
      "fin AS (SELECT hls.source, hls.nw, " +
      s"coalesce(len(rm.rml), 0) * $SpanW AS nrem, " +
      "CASE WHEN rm.doc_id IS NULL THEN 0 ELSE 1 END AS modif, " +
      // DuckDB array_to_string([]) is NULL, Spark array_join is '' —
      // coalesce so the fully-emptied-doc checksum matches
      "coalesce(array_to_string(list_filter(hls.ws, (w, i) -> " +
      s"NOT list_contains(coalesce(rm.rml, []), (i - 1) // $SpanW)), ' '), '') " +
      "AS tc FROM hls LEFT JOIN rm ON hls.doc_id = rm.doc_id) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(modif) AS BIGINT) AS n_modified, " +
      "CAST(sum(nw) AS BIGINT) AS toks_total, " +
      "CAST(sum(nrem) AS BIGINT) AS toks_removed, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("tc")} % $CleanSumMod) " +
      "AS BIGINT) AS clean_sum FROM fin GROUP BY source ORDER BY source")

  private val SubstrK = 6

  /** DuckDB overlapping-window fingerprint fold over `hl` at 1-based
    * window start `i` — same (acc·31 + h) mod M chain as
    * [[Dedup.ngramFingerprints]]. */
  private def winFpSql(k: Int): String =
    (2 to k).foldLeft(s"hl[i]")((acc, j) =>
      s"(($acc) * 31 + hl[i+${j - 1}]) % ${Dedup.NgramFpMod}")

  /** Offset-free exact-substring dedup (keep-first): the operator
    * [[Dedup.dedupSpansKeepFirst]] approximates — overlapping window
    * fingerprints match a repeated ≥ k-token run at ANY token offset,
    * where fixed chunking misses every repeat not aligned to a chunk
    * boundary (DedupSubstrSpec constructs one). The rewrite is
    * verified bit-for-bit via the clean-text hash checksum, like
    * q_dedup_spans. */
  private val dedupSubstrings = Q("q_dedup_substrings",
    (s, d) => {
      val d0 = docs(s, d)
      val cleaned =
        Dedup.dedupSubstringsKeepFirst(d0, "text", "doc_id", SubstrK)
      d0.select(col("doc_id"), col("source")).join(cleaned, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("modified"), 1L).otherwise(0L)).as("n_modified"),
          sum(col("n_tokens")).as("toks_total"),
          sum(col("n_removed")).as("toks_removed"),
          sum(TextAnalysis.tokenHash(col("text_clean")) % CleanSumMod)
            .as("clean_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      "hls AS (SELECT doc_id, source, ws, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in ws] AS hl, len(ws) AS nw FROM t), " +
      "win AS (SELECT doc_id, " +
      s"unnest([i for i in generate_series(1, nw - ${SubstrK - 1})]) " +
      s"AS wp, unnest([${winFpSql(SubstrK)} " +
      s"for i in generate_series(1, nw - ${SubstrK - 1})]) AS fp " +
      "FROM hls), " +
      "st AS (SELECT fp, count(*) AS nocc, " +
      s"min(doc_id * ${Dedup.SubstrPosMod} + wp - 1) AS keeper " +
      "FROM win GROUP BY fp), " +
      "ds AS (SELECT win.doc_id, list(DISTINCT win.wp) AS dl " +
      "FROM win JOIN st USING (fp) WHERE st.nocc >= 2 " +
      s"AND win.doc_id * ${Dedup.SubstrPosMod} + win.wp - 1 <> st.keeper " +
      "GROUP BY win.doc_id), " +
      "dc AS (SELECT doc_id, list_distinct(flatten(" +
      s"[generate_series(s, s + ${SubstrK - 1}) for s in dl])) AS cov " +
      "FROM ds), " +
      "fin AS (SELECT hls.source, hls.nw, " +
      "coalesce(len(dc.cov), 0) AS nrem, " +
      "CASE WHEN dc.doc_id IS NULL THEN 0 ELSE 1 END AS modif, " +
      // DuckDB array_to_string([]) is NULL, Spark array_join is '' —
      // coalesce so the fully-emptied-doc checksum matches
      "coalesce(array_to_string(list_filter(hls.ws, (w, j) -> " +
      "NOT list_contains(coalesce(dc.cov, []), j)), ' '), '') AS tc " +
      "FROM hls LEFT JOIN dc ON hls.doc_id = dc.doc_id) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(modif) AS BIGINT) AS n_modified, " +
      "CAST(sum(nw) AS BIGINT) AS toks_total, " +
      "CAST(sum(nrem) AS BIGINT) AS toks_removed, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("tc")} % $CleanSumMod) " +
      "AS BIGINT) AS clean_sum FROM fin GROUP BY source ORDER BY source")

  private val SubstrApplyDf = 2

  /** Incremental substring-boilerplate pair: FIT the > maxDf-doc
    * window fingerprint set (model-sized — boilerplate is a
    * vocabulary, not a corpus), APPLY as a pure per-row map (all
    * occurrences removed — boilerplate semantics, vs the keep-first
    * of q_dedup_substrings). DedupSubstrSpec pins the apply side on
    * docs outside the fitted archive. The oracle
    * recomputes fit + apply in one statement from the same window
    * folds. */
  private val dedupSubstringsApply = Q("q_dedup_substrings_apply",
    (s, d) => {
      val d0 = docs(s, d)
      val fps = Dedup.frequentWindowFps(d0, "text", "doc_id",
        SubstrK, SubstrApplyDf)
      val cleaned = Dedup.dedupSubstringsApply(d0, "text", "doc_id",
        SubstrK, fps)
      d0.select(col("doc_id"), col("source")).join(cleaned, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("modified"), 1L).otherwise(0L)).as("n_modified"),
          sum(col("n_tokens")).as("toks_total"),
          sum(col("n_removed")).as("toks_removed"),
          sum(TextAnalysis.tokenHash(col("text_clean")) % CleanSumMod)
            .as("clean_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      "hls AS (SELECT doc_id, source, ws, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in ws] AS hl, len(ws) AS nw FROM t), " +
      "win AS (SELECT doc_id, " +
      s"unnest([i for i in generate_series(1, nw - ${SubstrK - 1})]) " +
      s"AS wp, unnest([${winFpSql(SubstrK)} " +
      s"for i in generate_series(1, nw - ${SubstrK - 1})]) AS fp " +
      "FROM hls), " +
      "ft AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS ddf " +
      s"FROM win GROUP BY fp) WHERE ddf > $SubstrApplyDf), " +
      "ds AS (SELECT win.doc_id, list(DISTINCT win.wp) AS dl " +
      "FROM win JOIN ft USING (fp) GROUP BY win.doc_id), " +
      "dc AS (SELECT doc_id, list_distinct(flatten(" +
      s"[generate_series(s, s + ${SubstrK - 1}) for s in dl])) AS cov " +
      "FROM ds), " +
      "fin AS (SELECT hls.source, hls.nw, " +
      "coalesce(len(dc.cov), 0) AS nrem, " +
      "CASE WHEN dc.doc_id IS NULL THEN 0 ELSE 1 END AS modif, " +
      "coalesce(array_to_string(list_filter(hls.ws, (w, j) -> " +
      "NOT list_contains(coalesce(dc.cov, []), j)), ' '), '') AS tc " +
      "FROM hls LEFT JOIN dc ON hls.doc_id = dc.doc_id) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(modif) AS BIGINT) AS n_modified, " +
      "CAST(sum(nw) AS BIGINT) AS toks_total, " +
      "CAST(sum(nrem) AS BIGINT) AS toks_removed, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("tc")} % $CleanSumMod) " +
      "AS BIGINT) AS clean_sum FROM fin GROUP BY source ORDER BY source")

  private val WinnowW = 8

  /** Winnowed shared-span detection (Schleimer et al. 2003) — the
    * SCALE path of the substring family implemented, not just
    * documented: every w-run of k-token window fingerprints
    * contributes its min, so the anchor mass is ~1/w of the full
    * window mass (this query reports both, so the reduction is
    * measured in its own output), and any shared run of ≥ k+w−1
    * tokens still collides on an anchor. Run this corpus-wide
    * detector first; run the exact (w× heavier)
    * q_dedup_substrings rewrite on the flagged cohort. The dup-fp
    * checksum pins the exact collision set cross-engine. */
  private val dedupWinnow = Q("q_dedup_winnow",
    (s, d) => {
      // persisted (id, source, n_windows, anchors — anchors are
      // ~m/w longs per doc, far narrower than text): the frame feeds
      // BOTH the explode/count branch and the per-source rollup, and
      // unpersisted the winnowing kernel runs twice per row, plus a
      // third time inside InferFiltersFromGenerate's size guard
      // (PlanAudit r11)
      val anc = graft.core.CacheRegistry.track(
        Dedup.winnowAnchors(docs(s, d), "text", "doc_id",
          SubstrK, WinnowW, keep = Seq("source"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val e = anc.select(col("doc_id"), col("source"),
        explode(col("anchors")).as("fp"))
      val st = e.groupBy("fp").agg(count(lit(1)).as("nocc"))
      val dup = e.join(st, "fp").where(col("nocc") >= 2)
        .groupBy("source")
        .agg(count(lit(1)).as("n_dup_anchors"),
          sum(col("fp") % lit(Dedup.P)).as("dup_sum"))
      anc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_windows")).as("n_windows"),
          sum(size(col("anchors")).cast("long")).as("n_anchors"))
        .join(dup, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_windows"),
          col("n_anchors"),
          coalesce(col("n_dup_anchors"), lit(0L)).as("n_dup_anchors"),
          coalesce(col("dup_sum"), lit(0L)).as("dup_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      "hls AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in ws] AS hl, len(ws) AS nw FROM t), " +
      "wf AS (SELECT doc_id, source, " +
      s"[${winFpSql(SubstrK)} " +
      s"for i in generate_series(1, nw - ${SubstrK - 1})] AS fps " +
      "FROM hls), " +
      "anc AS (SELECT doc_id, source, len(fps) AS m, " +
      "CASE WHEN len(fps) = 0 THEN [] " +
      s"WHEN len(fps) < $WinnowW THEN [list_min(fps)] " +
      s"ELSE list_distinct([list_min(fps[i:i+${WinnowW - 1}]) " +
      s"for i in generate_series(1, len(fps) - ${WinnowW - 1})]) " +
      "END AS anchors FROM wf), " +
      "e AS (SELECT doc_id, source, unnest(anchors) AS fp FROM anc), " +
      "st AS (SELECT fp, count(*) AS nocc FROM e GROUP BY fp), " +
      "dup AS (SELECT e.source, count(*) AS n_dup_anchors, " +
      s"CAST(sum(e.fp % ${Dedup.P}) AS BIGINT) AS dup_sum " +
      "FROM e JOIN st USING (fp) WHERE st.nocc >= 2 GROUP BY e.source), " +
      "base AS (SELECT source, count(*) AS n_docs, " +
      "CAST(sum(m) AS BIGINT) AS n_windows, " +
      "CAST(sum(len(anchors)) AS BIGINT) AS n_anchors FROM anc " +
      "GROUP BY source) " +
      "SELECT base.source, base.n_docs, base.n_windows, base.n_anchors, " +
      "coalesce(dup.n_dup_anchors, 0) AS n_dup_anchors, " +
      "coalesce(dup.dup_sum, 0) AS dup_sum " +
      "FROM base LEFT JOIN dup ON base.source = dup.source " +
      "ORDER BY base.source")

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

  private val RerankC = 10

  /** Two-stage retrieval: ADC candidates (top-10 by compressed
    * distance, (dist, id)-deterministic) → exact re-rank. The oracle
    * checks the exact-top1 id-sum and distance average, plus how often
    * the two-stage pick equals the brute-force nearest neighbor
    * (recall@1 of the compressed stage, deterministic on both
    * engines). */
  private val embedRerank = Q("q_embed_rerank",
    (s, d) => {
      val e = embs(s, d)
      val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", PqM, PqKsub)
      val coded = Pq.encode(e, "vec_id", "embedding", cb)
      val queries = e.where(col("vec_id") < 10)
      val rr = Pq.adcRerankTop1(coded, queries, "vec_id", "embedding",
        cb, RerankC)
      val brute = coded.crossJoin(broadcast(queries
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))))
        .where(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"))
        .agg(min(graft.ops.VecExpressions.l2sq(col("qemb"),
          col("embedding"))).as("brute_dist"))
      rr.join(brute, "qid")
        .agg(count(lit(1)).as("n_q"),
          sum(col("top1_id")).as("id_sum"),
          round(avg(col("top1_dist")), 5).as("avg_dist"),
          sum(when(col("top1_dist") === col("brute_dist"), 1L)
            .otherwise(0L)).as("n_recall"))
    }, {
      def sub(m: Int) = (m * PqW + 1, (m + 1) * PqW)
      val subs = (0 until PqM).map(sub)
      val encCtes = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"d$m AS (SELECT e.vec_id, c.cid, " +
          s"${l2SqlRange("e.embedding", "c.cemb", lo, hi)} AS dist " +
          "FROM embeddings e CROSS JOIN cb c), " +
          s"a$m AS (SELECT d$m.vec_id, min(d$m.cid) AS c$m FROM d$m " +
          s"JOIN (SELECT vec_id, min(dist) AS md FROM d$m GROUP BY vec_id) m$m " +
          s"ON d$m.vec_id = m$m.vec_id AND d$m.dist = m$m.md " +
          s"GROUP BY d$m.vec_id)"
      }.mkString(", ")
      val codeJoin = (1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
        .mkString(" ")
      val cbJoins = (0 until PqM).map(m =>
        s"JOIN cb b$m ON b$m.cid = codes.c$m").mkString(" ")
      val adcSum = subs.zipWithIndex.map { case ((lo, hi), m) =>
        s"(${l2SqlRange("q.embedding", s"b$m.cemb", lo, hi)})"
      }.mkString(" + ")
      "WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
        "embedding AS cemb FROM (SELECT vec_id, embedding FROM embeddings " +
        s"ORDER BY vec_id LIMIT $PqKsub)), " +
        s"$encCtes, " +
        s"codes AS (SELECT a0.vec_id, " +
        s"${(0 until PqM).map(m => s"c$m").mkString(", ")} " +
        s"FROM a0 $codeJoin), " +
        "qq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), " +
        s"cand AS (SELECT q.vec_id AS qid, codes.vec_id AS cid, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ($adcSum), " +
        "codes.vec_id) AS rk FROM qq q JOIN codes " +
        s"ON codes.vec_id <> q.vec_id $cbJoins), " +
        "ex AS (SELECT c.qid, c.cid, " +
        s"${l2Sql("q.embedding", "e.embedding")} AS xd FROM cand c " +
        "JOIN embeddings e ON c.cid = e.vec_id " +
        "JOIN embeddings q ON c.qid = q.vec_id " +
        s"WHERE c.rk <= $RerankC), " +
        "em AS (SELECT qid, min(xd) AS md FROM ex GROUP BY qid), " +
        "et AS (SELECT ex.qid, min(ex.cid) AS tid, min(ex.xd) AS td " +
        "FROM ex JOIN em ON ex.qid = em.qid AND ex.xd = em.md " +
        "GROUP BY ex.qid), " +
        "bd AS (SELECT q.vec_id AS qid, " +
        s"min(${l2Sql("q.embedding", "e.embedding")}) AS bmd " +
        "FROM qq q JOIN embeddings e ON e.vec_id <> q.vec_id " +
        "GROUP BY q.vec_id) " +
        "SELECT count(*) AS n_q, CAST(sum(et.tid) AS BIGINT) AS id_sum, " +
        "round(avg(et.td), 5) AS avg_dist, " +
        "CAST(sum(CASE WHEN et.td = bd.bmd THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_recall FROM et JOIN bd ON et.qid = bd.qid"
    })

  /** Leakage-safe k-fold assignment over exact-duplicate groups
    * ([[graft.ops.Sampling.groupKFold]]): fold = 60-bit hash of the
    * group representative mod k — whole duplicate families share a
    * fold, so no eval fold is contaminated by a training copy (the
    * k-fold dual of the group split; Lee et al. 2022 §6). One md5
    * group aggregate + join-back, then a pure map; the straddle probe
    * (groups spanning >1 fold) is structurally 0. Fold sizes, char
    * mass, and id checksums pinned cross-engine in exact integers. */
  private val KfoldK = 5
  private val sampleKfold = Q("q_sample_kfold",
    (s, d) => {
      val g = docs(s, d).select(col("doc_id"), col("n_chars"),
        md5(col("text")).as("h"))
      val keep = g.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
      val assigned = Sampling.groupKFold(g.join(keep, "h"), "keep_id",
        KfoldK)
      val straddle = assigned.groupBy("h")
        .agg(countDistinct(col("fold")).as("nf"))
        .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("n_straddle"))
      assigned.groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .crossJoin(straddle)
        .orderBy("fold")
    },
    "WITH g AS (SELECT doc_id, n_chars, md5(text) AS h FROM documents), " +
      "k AS (SELECT h, min(doc_id) AS keep_id FROM g GROUP BY h), " +
      "a AS (SELECT g.doc_id, g.n_chars, g.h, " +
      s"(${graft.ops.TextAnalysis.TokenHashSql("CAST(keep_id AS VARCHAR)")})" +
      s" % $KfoldK AS fold FROM g JOIN k USING (h)) " +
      "SELECT fold, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "(SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "FROM (SELECT h, count(DISTINCT fold) AS nf FROM a GROUP BY h)) " +
      "AS n_straddle " +
      "FROM a GROUP BY fold ORDER BY fold")

  private def dotSqlK(a: String, b: String, k: Int): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1, $k)])"

  /** Matryoshka-style truncated-dimension retrieval check (Kusupati
    * et al. 2022): rank by cosine over the FIRST k dims (renormalized
    * prefix — the nested-representation trick that cuts ANN memory
    * k/d-fold) and compare the top-1 against full-dimension truth per
    * query. Both rankings are broadcast nested-loop + struct-max
    * argmax (max cos, ties to min id) — never a rank Window; the
    * prefix is a zero-copy `slice` feeding the same codegen'd dot
    * kernel. Agreement flags and both cosines pinned cross-engine. */
  private val MatK = 16
  private val embedMatryoshka = Q("q_embed_matryoshka",
    (s, d) => {
      import graft.ops.VecExpressions
      val e = embs(s, d)
      val q = e.where(col("vec_id") <= 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val p = e.select(col("vec_id").as("cid"), col("embedding").as("cemb"))
        .join(broadcast(q), col("qid") =!= col("cid"))
      val fcos = VecExpressions.dot(col("qemb"), col("cemb")) /
        (sqrt(VecExpressions.dot(col("qemb"), col("qemb"))) *
          sqrt(VecExpressions.dot(col("cemb"), col("cemb"))))
      val tq = slice(col("qemb"), 1, MatK)
      val tc = slice(col("cemb"), 1, MatK)
      val tcos = VecExpressions.dot(tq, tc) /
        (sqrt(VecExpressions.dot(tq, tq)) *
          sqrt(VecExpressions.dot(tc, tc)))
      val scored = p.select(col("qid"), col("cid"),
        fcos.as("fcos"), tcos.as("tcos"))
      val f = scored.groupBy("qid")
        .agg(max(struct(col("fcos"), (-col("cid")).as("ni"))).as("fm"))
        .select(col("qid"), col("fm.fcos").as("full_cos"),
          (-col("fm.ni")).as("full_id"))
      val t = scored.groupBy("qid")
        .agg(max(struct(col("tcos"), (-col("cid")).as("ni"))).as("tm"))
        .select(col("qid"), col("tm.tcos").as("trunc_cos"),
          (-col("tm.ni")).as("trunc_id"))
      f.join(t, "qid")
        .select(col("qid"), col("full_id"), col("trunc_id"),
          when(col("full_id") === col("trunc_id"), 1L).otherwise(0L)
            .as("agree"),
          round(col("full_cos"), 5).as("full_cos"),
          round(col("trunc_cos"), 5).as("trunc_cos"))
        .orderBy("qid")
    },
    "WITH e AS (SELECT vec_id, embedding AS emb, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm, " +
      s"sqrt(${dotSqlK("embedding", "embedding", MatK)}) AS nrmk " +
      "FROM embeddings), " +
      "q AS (SELECT * FROM e WHERE vec_id <= 10), " +
      "p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, " +
      s"(${dotSql("q.emb", "c.emb")}) / (q.nrm * c.nrm) AS fcos, " +
      s"(${dotSqlK("q.emb", "c.emb", MatK)}) / (q.nrmk * c.nrmk) AS tcos " +
      "FROM q JOIN e c ON q.vec_id <> c.vec_id), " +
      "fm AS (SELECT qid, max(fcos) AS fcos FROM p GROUP BY qid), " +
      "f AS (SELECT p.qid, fm.fcos, min(p.cid) AS full_id FROM p " +
      "JOIN fm ON p.qid = fm.qid AND p.fcos = fm.fcos " +
      "GROUP BY p.qid, fm.fcos), " +
      "tm AS (SELECT qid, max(tcos) AS tcos FROM p GROUP BY qid), " +
      "t AS (SELECT p.qid, tm.tcos, min(p.cid) AS trunc_id FROM p " +
      "JOIN tm ON p.qid = tm.qid AND p.tcos = tm.tcos " +
      "GROUP BY p.qid, tm.tcos) " +
      "SELECT f.qid AS qid, full_id, trunc_id, " +
      "CAST(CASE WHEN full_id = trunc_id THEN 1 ELSE 0 END AS BIGINT) " +
      "AS agree, round(f.fcos, 5) AS full_cos, " +
      "round(t.tcos, 5) AS trunc_cos " +
      "FROM f JOIN t ON f.qid = t.qid ORDER BY qid")

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

  /** DoReMi-style domain reweighting (Xie et al. 2023, one-round
    * lite): domains with HIGHER bigram-LM loss (excess over the
    * easiest domain) get up-weighted — exp(excess) mixture weights —
    * then deterministic hash sampling realizes the new mix toward a
    * half-corpus target. The whole chain is in-plan: per-source NLL
    * (the [[graft.ops.NgramLm]] perplexity shape), one-row min/total
    * frames joined back (the winsorize broadcast pattern — no driver
    * round-trip), and a keep scan against the source-keyed rate
    * table. Per-source avg NLL is rounded(5) BEFORE the exp
    * arithmetic, so both engines feed bit-identical doubles into exp.
    *
    * The exponential weight is then QUANTIZED to int64 fixed point —
    * w = floor(exp(nll−mn)·2³⁰) — before the normalize/compare chain,
    * the same cross-engine discipline as q_stats_mi/q_events_decayed:
    * z = Σw is an exact integer, and every downstream double (q,
    * rate) is a ratio of exact integers computed in the identical
    * written order on both engines, so the final round(·,5) cannot
    * sit on a libm-dependent boundary. The ~2⁻³⁰ relative coarsening
    * of the mixture weights is far below the rounded 5-digit output
    * resolution. (Residual risk is only floor(exp·2³⁰) itself
    * flipping on a 1-ulp libm difference at an integer boundary —
    * the same accepted residue as every other quantized chain.) */
  private val DoremiWScale = 1073741824L // 2^30
  private val sampleDoremi = Q("q_sample_doremi",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize pass (pinned hash lists) and a pinned per-source
      // summary: st is source-grain (a handful of rows) but feeds
      // mn/tot/w/z/rates/kept — unpinned, every one of those re-ran
      // the whole LM train+score chain (the r14 plan audit measured
      // 74 parquet scans / 162 exchanges on this query)
      val hl = pin(NgramLm.hashListFrame(d0, "text", "doc_id",
        keep = Seq("source")))
      val lm = NgramLm.trainFromHl(hl, "doc_id")
      val ppl = NgramLm.perplexityFromHl(hl, "doc_id", lm)
      // r15 (guide §7.2): the global mn/tot/z summaries are WINDOWED
      // over ONE st subtree instead of crossJoin-ed one-row aggregate
      // branches. The five aggregate consumers (mn/tot/w/z/rates) each
      // re-planned the whole LM chain statically — the r14 plan audit
      // measured 38 parquet scans / 162 Exchanges; ReuseExchange
      // deduped them at runtime but that reuse is fragile under AQE
      // re-optimization. The window frame is the SOURCE grain (a
      // handful of rows by definition), so the single-partition
      // exchange is bounded, like unimaxAllocation's. Same arithmetic,
      // same rounding, bit-identical rows (oracle re-verified).
      // Pinning st instead was measured SLOWER in r14 (3.1 vs 2.0 s —
      // the barrier cost more than the reuse saved) and is still the
      // rejected alternative.
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val st = hl.select(col("doc_id"), col("source"))
        .join(ppl, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg(col("nll")), 5).as("nll"))
      val w = st
        .withColumn("mn", min(col("nll")).over(wAll))
        .withColumn("n_total", sum(col("n_docs")).over(wAll))
        .withColumn("w", floor(exp(col("nll") - col("mn")) *
          lit(DoremiWScale.toDouble)).cast("long"))
      val rates = w
        .withColumn("z", sum(col("w")).over(wAll))
        .select(col("source"), col("n_docs"), col("nll"),
          round(col("w").cast("double") / col("z").cast("double"), 5)
            .as("q"),
          round(least(lit(1.0),
            (col("n_total").cast("double") / lit(2.0)) *
              (col("w").cast("double") / col("z").cast("double")) /
              col("n_docs").cast("double")), 5)
            .as("rate"))
      val kept = hl.select(col("doc_id"), col("source"))
        .join(broadcast(rates.select("source", "rate")), "source")
        .where(Sampling.hashFraction(col("doc_id")) < col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("nll"), col("q"),
          col("rate"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
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
      "ppl AS (SELECT doc_id, source, " +
      "avg(-ln((cb.cb + 1.0) / CAST(cu.cu + v.v AS DOUBLE))) AS nll " +
      "FROM bg JOIN cb USING (b) JOIN cu USING (w1) CROSS JOIN v " +
      "GROUP BY doc_id, source), " +
      "st AS (SELECT source, count(*) AS n_docs, " +
      "round(avg(nll), 5) AS nll FROM ppl GROUP BY source), " +
      "mn AS (SELECT min(nll) AS mn FROM st), " +
      "tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM st), " +
      "w AS (SELECT source, n_docs, nll, " +
      s"CAST(floor(exp(nll - mn.mn) * $DoremiWScale.0) AS BIGINT) AS w " +
      "FROM st CROSS JOIN mn), " +
      "z AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM w), " +
      "rates AS (SELECT source, n_docs, nll, " +
      "round(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE), 5) AS q, " +
      "round(least(1.0, (CAST(tot.n_total AS DOUBLE) / 2.0) * " +
      "(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE)) / " +
      "CAST(n_docs AS DOUBLE)), 5) AS rate " +
      "FROM w CROSS JOIN z CROSS JOIN tot), " +
      "kept AS (SELECT d.source, count(*) AS n_kept, " +
      "CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum " +
      "FROM documents d JOIN rates USING (source) " +
      s"WHERE ${Sampling.HashFractionSql("doc_id")} < rate " +
      "GROUP BY d.source) " +
      "SELECT rates.source, CAST(n_docs AS BIGINT) AS n_docs, nll, q, " +
      "rate, coalesce(n_kept, 0) AS n_kept, " +
      "coalesce(kept_id_sum, 0) AS kept_id_sum " +
      "FROM rates LEFT JOIN kept ON rates.source = kept.source " +
      "ORDER BY rates.source")

  /** Per-source duplication profile (the data card that picks the
    * dedup strategy per domain: a source dominated by one template
    * family wants cluster-level collapse, a clean one doesn't need
    * it): cluster-size stats joined back onto the corpus source axis.
    * Pure composition — the verified cluster closure + one
    * cluster-size aggregate + the source rollup; redundancy counts
    * (non-representative members) and cluster-id checksums pinned in
    * exact integers. */
  private val dedupProfile = Q("q_dedup_profile",
    (s, d) => {
      val d0 = docs(s, d)
      val cl = Dedup.minhashClusters(d0, "text", "doc_id",
        maxBucket = MinhashCap)
      val csz = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      d0.select(col("doc_id"), col("source"))
        .join(cl, "doc_id")
        .join(csz, "cluster_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sz") > 1, 1L).otherwise(0L))
            .as("n_in_dup_clusters"),
          sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
            .as("n_redundant"),
          round(avg(col("sz").cast("double")), 5).as("avg_cluster_sz"),
          sum(col("cluster_id")).as("cluster_id_sum"))
        .orderBy("source")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "csz AS (SELECT cluster_id, count(*) AS sz FROM comp " +
      "GROUP BY cluster_id), " +
      "j AS (SELECT doc.source, c.node AS doc_id, c.cluster_id, csz.sz " +
      "FROM comp c JOIN documents doc ON doc.doc_id = c.node " +
      "JOIN csz USING (cluster_id)) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_in_dup_clusters, " +
      "CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_redundant, " +
      "round(avg(CAST(sz AS DOUBLE)), 5) AS avg_cluster_sz, " +
      "CAST(sum(cluster_id) AS BIGINT) AS cluster_id_sum " +
      "FROM j GROUP BY source ORDER BY source")

  /** Exact heavy hitters via the classic CMS two-pass (Cormode &
    * Muthukrishnan 2005 §4): the sketch's never-underestimate
    * guarantee makes its ≥-threshold candidates a SUPERSET of the
    * true hitters, so one exact aggregate restricted to the
    * (broadcast, candidate-bounded) key set finishes the job — the
    * shape that finds every token above ε·N over 100 TB with one
    * sketch pass + one semi-joined count pass, never a full per-key
    * count. Threshold derives in-plan from a one-row total frame;
    * candidate/hitter counts, hitter mass, and the id checksum are
    * exact integers. */
  private val HhDen = 200L
  private val sketchHeavyHitters = Q("q_sketch_heavyhitters",
    (s, d) => {
      // pinned token-hash frame: the sketch build, the total count,
      // the distinct-estimate pass and the exact candidate count all
      // read it (was 14 parquet scans — four tokenize passes)
      val toks = pin(docs(s, d)
        .select(explode(graft.ops.TextAnalysis.tokens(col("text")))
          .as("tok"))
        .select(graft.ops.TextAnalysis.tokenHash(col("tok")).as("th")))
      val sketch = graft.ops.Sketches.cmsBuild(toks, col("th"))
      val thr = toks.agg(count(lit(1)).as("tot"))
        .select(col("tot"), expr(s"tot div $HhDen").as("thr"))
      val est = graft.ops.Sketches.cmsEstimate(toks.distinct(), "th",
        sketch)
      val cand = est.crossJoin(thr).where(col("cms_count") >= col("thr"))
      val exact = toks
        .join(broadcast(cand.select("th")), Seq("th"), "left_semi")
        .groupBy("th").agg(count(lit(1)).as("n"))
      cand.join(exact, "th")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("n") >= col("thr"), 1L).otherwise(0L))
            .as("n_hitters"),
          sum(when(col("n") >= col("thr"), col("n")).otherwise(0L))
            .as("hitter_mass"),
          sum(when(col("n") >= col("thr"), col("th") % lit(Dedup.P))
            .otherwise(0L)).as("hitter_checksum"),
          max(col("n")).as("max_count"),
          max(col("tot")).as("tot"), max(col("thr")).as("thr"))
    }, {
      val P = Dedup.P
      val W = 1024
      def probes(hpCol: String) = (0 until 4).map(r =>
        s"{'r': $r, 'p': ((${Dedup.MinhashAs(r)} * $hpCol + " +
          s"${Dedup.MinhashBs(r)}) % $P) % $W}").mkString(", ")
      "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        s"h AS (SELECT ${TextAnalysis.TokenHashSql("tok")} AS th " +
        "FROM toks), " +
        "hp0 AS (SELECT th, " +
        s"${TextAnalysis.TokenHashSql("th::VARCHAR")} % $P AS hp FROM h), " +
        s"occ AS (SELECT unnest([${probes("hp")}]) AS u FROM hp0), " +
        "sk AS (SELECT u.r AS r, u.p AS p, count(*) AS cnt FROM occ " +
        "GROUP BY u.r, u.p), " +
        "tot AS (SELECT count(*) AS tot, " +
        s"count(*) // $HhDen AS thr FROM h), " +
        "k AS (SELECT DISTINCT th FROM h), " +
        "khp AS (SELECT th, " +
        s"${TextAnalysis.TokenHashSql("th::VARCHAR")} % $P AS hp FROM k), " +
        "kocc AS (SELECT th, u.r AS r, u.p AS p FROM " +
        s"(SELECT th, unnest([${probes("hp")}]) AS u FROM khp)), " +
        "pest AS (SELECT th, min(COALESCE(sk.cnt, 0)) AS est FROM kocc " +
        "LEFT JOIN sk USING (r, p) GROUP BY th), " +
        "cand AS (SELECT th, est, tot.tot, tot.thr FROM pest " +
        "CROSS JOIN tot WHERE est >= thr), " +
        "ex AS (SELECT h.th, count(*) AS n FROM h " +
        "JOIN (SELECT th FROM cand) c ON h.th = c.th GROUP BY h.th), " +
        "j AS (SELECT cand.th, ex.n, cand.thr, cand.tot FROM cand " +
        "JOIN ex USING (th)) " +
        "SELECT count(*) AS n_candidates, " +
        "CAST(sum(CASE WHEN n >= thr THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_hitters, " +
        "CAST(sum(CASE WHEN n >= thr THEN n ELSE 0 END) AS BIGINT) " +
        "AS hitter_mass, " +
        "CAST(sum(CASE WHEN n >= thr THEN th % " +
        s"${Dedup.P} ELSE 0 END) AS BIGINT) AS hitter_checksum, " +
        "CAST(max(n) AS BIGINT) AS max_count, " +
        "CAST(max(tot) AS BIGINT) AS tot, " +
        "CAST(max(thr) AS BIGINT) AS thr FROM j"
    })

  /** Bottom-k distinct-hash sketch → pairwise SOURCE overlap
    * estimates (Jaccard over token-hash vocabularies) — the planning
    * query you run BEFORE committing to a cross-corpus dedup: "how
    * much does snapshot A share with snapshot B" from k-sized
    * signatures instead of a vocabulary join. Estimator: for the k
    * smallest hashes of A∪B, J ≈ |those in both A and B| / k (a hash
    * among the union's bottom-k that belongs to A is necessarily in
    * A's own bottom-k, so per-source signatures suffice — the
    * classic bottom-k coordination property). All arithmetic on
    * exact integer hashes: the estimate itself is bit-exact
    * cross-engine, only its accuracy is probabilistic (±~1/√k).
    *
    * Scale shape: one vocab-grain distinct per source (the
    * q_text_vocab pattern) → ONE O(k)-state [[TopK.topK]] aggregate
    * per source (map-side partial, never a sort) → all pair math on
    * the sources×k signature table (model-sized by definition). The
    * oracle's per-source rank window is the executable spec of the
    * same bottom-k. */
  private val BkK = 128
  private val sketchBottomK = Q("q_sketch_bottomk",
    (s, d) => graft.ops.Sketches.bottomKOverlap(
        docs(s, d).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("source"), TextAnalysis.tokenHash(col("tok")), BkK)
      .withColumnRenamed("ga", "sa").withColumnRenamed("gb", "sb")
      .orderBy("sa", "sb"),
    "WITH toks AS (SELECT source, " +
      s"${TextAnalysis.TokenHashSql("tok")} AS h " +
      "FROM (SELECT source, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents)), " +
      "dh AS (SELECT DISTINCT source, h FROM toks), " +
      "cnts AS (SELECT source, count(*) AS n_h FROM dh GROUP BY source), " +
      "rk AS (SELECT source, h, row_number() OVER (PARTITION BY source " +
      "ORDER BY h) AS rn FROM dh), " +
      s"bkt AS (SELECT source, h FROM rk WHERE rn <= $BkK), " +
      "prs AS (SELECT a.source AS sa, b.source AS sb FROM cnts a " +
      "JOIN cnts b ON a.source < b.source), " +
      "pu AS (SELECT prs.sa, prs.sb, bkt.h, 1 AS ia, 0 AS ib " +
      "FROM prs JOIN bkt ON bkt.source = prs.sa " +
      "UNION ALL SELECT prs.sa, prs.sb, bkt.h, 0 AS ia, 1 AS ib " +
      "FROM prs JOIN bkt ON bkt.source = prs.sb), " +
      "u AS (SELECT sa, sb, h, max(ia) AS ia, max(ib) AS ib FROM pu " +
      "GROUP BY 1, 2, 3), " +
      "w AS (SELECT sa, sb, ia, ib, row_number() OVER (PARTITION BY " +
      "sa, sb ORDER BY h) AS rn FROM u), " +
      s"g AS (SELECT sa, sb, count(*) AS k_used, " +
      "CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) " +
      s"AS BIGINT) AS n_inter FROM w WHERE rn <= $BkK GROUP BY sa, sb) " +
      "SELECT g.sa, g.sb, ca.n_h AS n_a, cb.n_h AS n_b, g.k_used, " +
      "g.n_inter, round(CAST(g.n_inter AS DOUBLE) / " +
      "CAST(g.k_used AS DOUBLE), 5) AS est_jaccard " +
      "FROM g JOIN cnts ca ON ca.source = g.sa " +
      "JOIN cnts cb ON cb.source = g.sb ORDER BY sa, sb")

  /** KMV set algebra over source vocabularies
    * ([[graft.ops.Sketches.kmvSetOps]]): union and intersection
    * CARDINALITY estimates per source pair from the merged bottom-k's
    * k-th order statistic — (k−1)·2⁶⁰/h_k — beside the exact
    * vocab-grain truth (the calibration harness you run at sample
    * scale to size k before trusting the sketch on the corpus). When
    * the merged sketch holds the entire union the estimate is exact
    * BY DEFINITION (k_used < k branch). Integer order statistics
    * through identical double expressions: bit-exact cross-engine. */
  private val sketchKmv = Q("q_sketch_kmv",
    (s, d) => graft.ops.Sketches.kmvSetOps(
        docs(s, d).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("source"), TextAnalysis.tokenHash(col("tok")), BkK)
      .withColumnRenamed("ga", "sa").withColumnRenamed("gb", "sb")
      .orderBy("sa", "sb"),
    "WITH toks AS (SELECT source, " +
      s"${TextAnalysis.TokenHashSql("tok")} AS h " +
      "FROM (SELECT source, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents)), " +
      "dh AS (SELECT DISTINCT source, h FROM toks), " +
      "cnts AS (SELECT source, count(*) AS n_h FROM dh GROUP BY source), " +
      "rk AS (SELECT source, h, row_number() OVER (PARTITION BY source " +
      "ORDER BY h) AS rn FROM dh), " +
      s"bkt AS (SELECT source, h FROM rk WHERE rn <= $BkK), " +
      "prs AS (SELECT a.source AS sa, b.source AS sb FROM cnts a " +
      "JOIN cnts b ON a.source < b.source), " +
      "pu AS (SELECT prs.sa, prs.sb, bkt.h, 1 AS ia, 0 AS ib " +
      "FROM prs JOIN bkt ON bkt.source = prs.sa " +
      "UNION ALL SELECT prs.sa, prs.sb, bkt.h, 0 AS ia, 1 AS ib " +
      "FROM prs JOIN bkt ON bkt.source = prs.sb), " +
      "u AS (SELECT sa, sb, h, max(ia) AS ia, max(ib) AS ib FROM pu " +
      "GROUP BY 1, 2, 3), " +
      "w AS (SELECT sa, sb, h, ia, ib, row_number() OVER (PARTITION BY " +
      "sa, sb ORDER BY h) AS rn FROM u), " +
      "g AS (SELECT sa, sb, count(*) AS k_used, max(h) AS h_k, " +
      "CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) " +
      s"AS BIGINT) AS n_inter_sig FROM w WHERE rn <= $BkK " +
      "GROUP BY sa, sb), " +
      "ex AS (SELECT a.source AS sa, b.source AS sb, " +
      "count(*) AS exact_inter FROM dh a JOIN dh b " +
      "ON a.h = b.h AND a.source < b.source GROUP BY 1, 2), " +
      s"es AS (SELECT g.*, CASE WHEN g.k_used < $BkK " +
      "THEN CAST(g.k_used AS DOUBLE) " +
      s"ELSE CAST(g.k_used - 1 AS DOUBLE) * ${graft.ops.Sketches.KmvSpace} " +
      "/ CAST(g.h_k AS DOUBLE) END AS eu FROM g) " +
      "SELECT es.sa, es.sb, ca.n_h AS n_a, cb.n_h AS n_b, es.k_used, " +
      "es.n_inter_sig, coalesce(ex.exact_inter, 0) AS exact_inter, " +
      "ca.n_h + cb.n_h - coalesce(ex.exact_inter, 0) AS exact_union, " +
      "round(es.eu, 5) AS est_union, " +
      "round(es.eu * CAST(es.n_inter_sig AS DOUBLE) " +
      "/ CAST(es.k_used AS DOUBLE), 5) AS est_inter " +
      "FROM es JOIN cnts ca ON ca.source = es.sa " +
      "JOIN cnts cb ON cb.source = es.sb " +
      "LEFT JOIN ex ON ex.sa = es.sa AND ex.sb = es.sb " +
      "ORDER BY es.sa, es.sb")

  /** Mutual information between two discretized document features
    * (length bucket × token-count bucket) — the feature-dependence
    * data card ("is this quality signal redundant with length?").
    * Scale shape: ONE map-side-partial aggregate onto the ≤ 16×16
    * cell grain; marginals and the total are register-table
    * aggregates joined back on post-agg keys. Each cell's pointwise
    * MI term is computed from exact integer counts in an identical
    * double expression on both engines, then FLOOR-QUANTIZED to int64
    * fixed point before the sum (the decayed-mass discipline), so the
    * total is order-independent and bit-exact cross-engine. */
  /** Per-source Kolmogorov–Smirnov drift against the corpus: the
    * data-card check "does this source's document-length distribution
    * match the rest of the mix?" — KS = max over bucket edges of
    * |ECDF_source − ECDF_corpus|, both ECDFs from EXACT integer
    * bucket counts (length div [[KsG]], clamped to [[KsB]] buckets),
    * so the statistic is a pure function of the counts and identical
    * cross-engine (integer ratios through the same double
    * expression). Scale shape: one map-side-partial agg onto the
    * sources×[[KsB]] cell grain; the cumsum windows run on ≤ KsB
    * rows per source, and the corpus ECDF is DERIVED from the
    * per-source cums (a bucket-grain agg) — no global window. */
  private val KsB = 64
  private val KsG = 16
  private val statsKs = Q("q_stats_ks",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bdf = docs(s, d)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .select(col("source"),
          expr(s"least(nt div $KsG, ${KsB - 1})").as("b"))
      val cells = bdf.groupBy("source", "b")
        .agg(count(lit(1)).as("c"))
      val srcs = cells.select("source").distinct()
      val dom = srcs.crossJoin(s.range(KsB.toLong).toDF("b"))
        .join(cells, Seq("source", "b"), "left")
        .select(col("source"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"))
      val wcum = Window.partitionBy("source").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sc = dom.withColumn("cum", sum(col("c")).over(wcum))
      val ns = cells.groupBy("source").agg(sum(col("c")).as("n_s"))
      val corp = sc.groupBy("b").agg(sum(col("cum")).as("ccum"))
      val tot = ns.agg(sum(col("n_s")).as("tot"))
      sc.join(ns, Seq("source")).join(corp, Seq("b")).crossJoin(tot)
        .groupBy("source")
        .agg(max(col("n_s")).as("n_docs"),
          round(max(abs(col("cum").cast("double") /
              col("n_s").cast("double") -
            col("ccum").cast("double") / col("tot").cast("double"))), 5)
            .as("ks"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, " +
      s"least(len(string_split(text, ' ')) // $KsG, ${KsB - 1}) AS b " +
      "FROM documents), " +
      "cells AS (SELECT source, b, count(*) AS c FROM t GROUP BY 1, 2), " +
      "srcs AS (SELECT DISTINCT source FROM cells), " +
      "dom AS (SELECT srcs.source, r.range AS b, " +
      "coalesce(cells.c, 0) AS c FROM srcs " +
      s"CROSS JOIN range(0, $KsB) r LEFT JOIN cells " +
      "ON cells.source = srcs.source AND cells.b = r.range), " +
      "sc AS (SELECT source, b, sum(c) OVER (PARTITION BY source " +
      "ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum FROM dom), " +
      "ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM dom " +
      "GROUP BY source), " +
      "corp AS (SELECT b, CAST(sum(cum) AS BIGINT) AS ccum FROM sc " +
      "GROUP BY b), " +
      "tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS tot FROM ns) " +
      "SELECT sc.source, CAST(max(ns.n_s) AS BIGINT) AS n_docs, " +
      "round(max(abs(CAST(sc.cum AS DOUBLE) / CAST(ns.n_s AS DOUBLE) - " +
      "CAST(corp.ccum AS DOUBLE) / CAST(tot.tot AS DOUBLE))), 5) AS ks " +
      "FROM sc JOIN ns USING (source) JOIN corp USING (b) " +
      "CROSS JOIN tot GROUP BY sc.source ORDER BY source")

  /** χ² test of independence over the source × lang contingency table
    * (the data-card "is language balanced across sources" row). Every
    * per-cell term ((o·n − rt·ct)² / (rt·ct·n)) is pure IEEE
    * arithmetic — multiply/subtract/divide are correctly rounded and
    * therefore bit-identical across engines (no transcendental, so
    * not even the guard-banded residual the MI/drift fixed points
    * carry) —
    * and the int64 fixed-point floor (2²⁰) makes the cross-engine SUM
    * exact integers. Counts live on post-agg grains: cells ≤
    * |sources|·|langs|, marginals smaller still — the only data-sized
    * pass is the first groupBy. */
  private val ChiFx = 1048576.0 // 2^20
  private val statsChisq = Q("q_stats_chisq",
    (s, d) => {
      val o = docs(s, d).groupBy("source", "lang")
        .agg(count(lit(1)).as("o"))
      val rt = o.groupBy("source").agg(sum(col("o")).as("rt"))
      val ct = o.groupBy("lang").agg(sum(col("o")).as("ct"))
      val tot = o.agg(sum(col("o")).as("n"),
        countDistinct(col("source")).as("r"),
        countDistinct(col("lang")).as("c"))
      val num = col("o").cast("double") * col("n").cast("double") -
        col("rt").cast("double") * col("ct").cast("double")
      val den = col("rt").cast("double") * col("ct").cast("double") *
        col("n").cast("double")
      o.join(rt, "source").join(ct, "lang").crossJoin(tot)
        .select(col("n"), col("r"), col("c"),
          floor(num * num / den * lit(ChiFx)).cast("long").as("fp"))
        .groupBy("n", "r", "c")
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("fp")).cast("double") / lit(ChiFx), 5)
            .as("chisq"))
        .select(col("n"), col("r"), col("c"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          col("n_cells"), col("chisq"))
    },
    "WITH o AS (SELECT source, lang, count(*) AS o FROM documents " +
      "GROUP BY source, lang), " +
      "rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM o " +
      "GROUP BY source), " +
      "ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM o " +
      "GROUP BY lang), " +
      "tot AS (SELECT CAST(sum(o) AS BIGINT) AS n, " +
      "count(DISTINCT source) AS r, count(DISTINCT lang) AS c FROM o), " +
      "f AS (SELECT tot.n, tot.r, tot.c, " +
      "CAST(floor((CAST(o.o AS DOUBLE) * CAST(tot.n AS DOUBLE) - " +
      "CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) * " +
      "(CAST(o.o AS DOUBLE) * CAST(tot.n AS DOUBLE) - " +
      "CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / " +
      "(CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) * " +
      s"CAST(tot.n AS DOUBLE)) * $ChiFx) AS BIGINT) AS fp " +
      "FROM o JOIN rt USING (source) JOIN ct USING (lang) " +
      "CROSS JOIN tot) " +
      "SELECT n, r, c, (r - 1) * (c - 1) AS dof, " +
      "count(*) AS n_cells, " +
      s"round(CAST(sum(fp) AS DOUBLE) / $ChiFx, 5) AS chisq " +
      "FROM f GROUP BY n, r, c")

  /** Fixed-point scale for the MI/drift/PSI transcendental terms.
    * Each p·ln(…) term quantizes via floor(y·2³⁰ + 0.5) — round-half-
    * down-banded, not bare floor: the +0.5 shifts every quantization
    * boundary onto a half-integer of the scaled value, so terms whose
    * TRUE value is a clean number (0 exactly, for identical
    * distributions / independent cells) sit half a quantum (≈5e-10)
    * from the nearest edge instead of ON it. Residual cross-engine
    * risk is a term landing within ~|y|·2⁻⁵² of a half-integer — no
    * natural term accumulates there, and the fixture is pinned green
    * at sf0.01 + sf0.1. */
  private val MiFx = 1073741824.0 // 2^30
  private val statsMi = Q("q_stats_mi",
    (s, d) => {
      val d0 = docs(s, d)
      val bx = least(greatest(floor(col("n_chars").cast("double") /
        lit(40.0)), lit(0.0)), lit(15.0)).cast("long")
      val by = least(greatest(floor(
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("double") /
          lit(8.0)), lit(0.0)), lit(15.0)).cast("long")
      val cells = d0.select(bx.as("bx"), by.as("by"))
        .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
      val rx = cells.groupBy("bx").agg(sum(col("cnt")).as("rx"))
      val cy = cells.groupBy("by").agg(sum(col("cnt")).as("cy"))
      val nf = cells.agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_cells"), max(col("cnt")).as("max_cell"))
      val term = (col("cnt").cast("double") / col("n").cast("double")) *
        log((col("cnt").cast("double") * col("n").cast("double")) /
          (col("rx").cast("double") * col("cy").cast("double")))
      cells.join(rx, "bx").join(cy, "by").crossJoin(nf)
        .select(col("n"), col("n_cells"), col("max_cell"),
          floor(term * lit(MiFx) + lit(0.5)).cast("long").as("fp"))
        .groupBy("n", "n_cells", "max_cell")
        .agg(round((sum(col("fp")).cast("double") / lit(MiFx)), 5)
          .as("mi"))
        .select(col("n"), col("n_cells"), col("max_cell"), col("mi"))
    },
    "WITH b AS (SELECT " +
      "CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 40.0), " +
      "0.0), 15.0) AS BIGINT) AS bx, " +
      "CAST(least(greatest(floor(CAST(len(string_split(text, ' ')) " +
      "AS DOUBLE) / 8.0), 0.0), 15.0) AS BIGINT) AS by " +
      "FROM documents), " +
      "cells AS (SELECT bx, by, count(*) AS cnt FROM b GROUP BY 1, 2), " +
      "rx AS (SELECT bx, CAST(sum(cnt) AS BIGINT) AS rx FROM cells " +
      "GROUP BY bx), " +
      "cy AS (SELECT by, CAST(sum(cnt) AS BIGINT) AS cy FROM cells " +
      "GROUP BY by), " +
      "nf AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, " +
      "count(*) AS n_cells, CAST(max(cnt) AS BIGINT) AS max_cell " +
      "FROM cells), " +
      "t AS (SELECT nf.n, nf.n_cells, nf.max_cell, " +
      "CAST(floor(((CAST(cnt AS DOUBLE) / CAST(nf.n AS DOUBLE)) * " +
      "ln((CAST(cnt AS DOUBLE) * CAST(nf.n AS DOUBLE)) / " +
      "(CAST(rx.rx AS DOUBLE) * CAST(cy.cy AS DOUBLE)))) * " +
      s"$MiFx + 0.5) AS BIGINT) AS fp " +
      "FROM cells JOIN rx USING (bx) JOIN cy USING (by) CROSS JOIN nf) " +
      "SELECT n, n_cells, max_cell, " +
      s"round(CAST(sum(fp) AS DOUBLE) / $MiFx, 5) AS mi " +
      "FROM t GROUP BY n, n_cells, max_cell")

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

  // ------------------------------------------- governance / uncertainty

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

  /** Audio-dedup round-trip — the audio twin of
    * [[multimodalImageDedup]]: per-doc parameters → deterministic
    * PCM16 test tone ([[Multimodal.wavPatternColumn]]) → REAL RIFF
    * parse → 16-frame integer energy fingerprint
    * ([[graft.ops.Codecs.audioFingerprint]]) → exact-group dedup
    * stats. Shared seeds plant identical clips across docs AND
    * sources; the oracle recomputes the fingerprint from the sample
    * formula — a parser that mis-reads any sample, frame boundary,
    * or the strict energy threshold breaks the fingerprint sum.
    * n ≡ 0 (mod 16) by construction, so every sample lands in a
    * frame. Bytes never shuffle; only (source, afp) aggregates. */
  private val multimodalAudioDedup = Q("q_multimodal_audiodedup",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(20L)), lit(32L)).cast("int")
            .as("seed"))
        .withColumn("n",
          (lit(512) + lit(64) * pmod(col("seed"), lit(8))).cast("int"))
      val clips = Multimodal.wavPatternColumn(params, "n", "seed")
      // deliberately UNPINNED (r14 optimization round): the WAV
      // fingerprint kernel on these short clips is cheaper than a
      // persist barrier (0.36 s unpinned vs 0.59 s pinned isolated) —
      // unlike the image/MJPEG decode twins, where the pin wins 2-3x
      val fps = Multimodal.audioFingerprintColumn(clips, "media")
        .select(col("source"), col("afp"))
      val global = fps.agg(countDistinct(col("afp")).as("n_groups"),
        (count(lit(1)) - countDistinct(col("afp"))).as("n_redundant"))
      fps.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          countDistinct(col("afp")).as("n_distinct"),
          sum(col("afp").cast("long")).as("fp_sum"))
        .crossJoin(global)
        .orderBy("source")
    },
    "WITH d0 AS (SELECT doc_id, source, " +
      "CAST((doc_id // 20) % 32 AS INT) AS seed FROM documents), " +
      "dd AS (SELECT doc_id, source, seed, " +
      "512 + 64 * (seed % 8) AS n FROM d0), " +
      "tt AS (SELECT doc_id, source, seed, n, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM dd), " +
      "a AS (SELECT doc_id, source, t // (n // 16) AS f, " +
      "abs(((seed*131 + t*t*7 + t*13) % 65536) - 32768) AS av " +
      "FROM tt), " +
      "fs AS (SELECT doc_id, source, f, CAST(sum(av) AS BIGINT) AS s " +
      "FROM a GROUP BY doc_id, source, f), " +
      "tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS tot FROM fs " +
      "GROUP BY doc_id), " +
      "fp AS (SELECT fs.doc_id, fs.source, " +
      "CAST(sum(CASE WHEN fs.s * 16 > tot.tot THEN (1 << fs.f) " +
      "ELSE 0 END) AS INT) AS afp " +
      "FROM fs JOIN tot USING (doc_id) GROUP BY fs.doc_id, fs.source), " +
      "g AS (SELECT count(DISTINCT afp) AS n_groups, " +
      "count(*) - count(DISTINCT afp) AS n_redundant FROM fp) " +
      "SELECT source, count(*) AS n_clips, " +
      "count(DISTINCT afp) AS n_distinct, " +
      "CAST(sum(afp) AS BIGINT) AS fp_sum, " +
      "max(g.n_groups) AS n_groups, max(g.n_redundant) AS n_redundant " +
      "FROM fp CROSS JOIN g GROUP BY source ORDER BY source")

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

  /** Cross-modal pair dedup — docs carry a CAPTION (text key) and an
    * optional IMAGE (perceptual key through REAL BMP decode); two
    * docs are duplicates when EITHER key matches, so clusters are the
    * connected components of the union edge set. This is the case
    * per-modality dedup provably misses: a re-captioned image and a
    * re-imaged caption chain A~B (caption) ~C (image) with A,C
    * sharing nothing. Planting: caption block b = doc_id//6, image
    * block ib = (doc_id+3)//6 (offset interleave ⇒ chains), every
    * 5th image block imageless (breaker ⇒ bounded chains, ~≤36 docs
    * — so the oracle's recursive closure stays linear). Scale shape:
    * image bytes are built and hashed partition-local (never
    * shuffle); both edge families are (long, long) star edges to the
    * per-key min doc; the closure is the O(log n)
    * union-find contraction kernel; `n_bridged` pins that cross-modal
    * chaining actually happened (clusters spanning ≥2 caption
    * blocks exist only via image edges). */
  private val multimodalPairDedup = Q("q_multimodal_pairdedup",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        floor((col("doc_id") + lit(3L)) / lit(6L)).cast("long").as("ib"),
        floor(col("doc_id") / lit(6L)).cast("long").as("b"))
      val cap = base.withColumn("cfp", TextAnalysis.tokenHash(
        concat(lit("cap "), col("b").cast("string"))))
      val cmin = cap.groupBy("cfp").agg(min(col("doc_id")).as("cm"))
      val cedges = cap.join(cmin, "cfp")
        .where(col("doc_id") =!= col("cm"))
        .select(col("doc_id").as("id_a"), col("cm").as("id_b"))
      val imgParams = base.where(pmod(col("ib"), lit(5L)) =!= 4L)
        .select(col("doc_id"),
          pmod(col("ib"), lit(251L)).cast("int").as("seed"),
          (lit(8) * (pmod(col("ib"), lit(5L)) + 2)).cast("int").as("w"),
          (lit(8) * (pmod(col("ib"), lit(7L)) + 2)).cast("int").as("h"))
      // pinned: three consumers (per-key min, the edge join-back and
      // the final n_img count) — unpinned, the BMP build + decode +
      // hash kernel ran three times (r14 optimization round)
      val hashed = pin(Multimodal.imageHashColumn(
          Multimodal.bmpPatternColumn(
            Multimodal.spreadParams(imgParams, "doc_id"), "w", "h", "seed"),
          "media")
        .select(col("doc_id"),
          pmod(col("ahash64"), lit(DigestMod)).as("ikey")))
      val imin = hashed.groupBy("ikey").agg(min(col("doc_id")).as("im"))
      val iedges = hashed.join(imin, "ikey")
        .where(col("doc_id") =!= col("im"))
        .select(col("doc_id").as("id_a"), col("im").as("id_b"))
      val cc = Dedup.connectedComponents(cedges.union(iedges),
        "id_a", "id_b")
      val labeled = base
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .select(col("doc_id"), col("b"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val csz = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"), countDistinct(col("b")).as("nb"))
      labeled.agg(count(lit(1)).as("n_docs"),
          sum(col("cluster_id")).as("id_sum"))
        .crossJoin(hashed.agg(count(lit(1)).as("n_img")))
        .crossJoin(csz.agg(count(lit(1)).as("n_clusters"),
          max(col("sz")).as("max_cluster"),
          sum(when(col("sz") > 1, col("sz") - 1L).otherwise(0L))
            .as("n_redundant"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_bridged")))
    },
    "WITH RECURSIVE base AS (SELECT doc_id, (doc_id + 3) // 6 AS ib, " +
      "doc_id // 6 AS b FROM documents), " +
      "cap AS (SELECT doc_id, b, " +
      s"${TextAnalysis.TokenHashSql("'cap ' || CAST(b AS VARCHAR)")} " +
      "AS cfp FROM base), " +
      "cmin AS (SELECT cfp, min(doc_id) AS cm FROM cap GROUP BY cfp), " +
      "cedges AS (SELECT c.doc_id AS id_a, cmin.cm AS id_b FROM cap c " +
      "JOIN cmin USING (cfp) WHERE c.doc_id <> cmin.cm), " +
      "img AS (SELECT doc_id, CAST(ib % 251 AS INT) AS seed, " +
      "8 * (ib % 5 + 2) AS w, 8 * (ib % 7 + 2) AS h FROM base " +
      "WHERE ib % 5 <> 4), " +
      "pos AS (SELECT doc_id, seed, w, h, " +
      "CAST(unnest(range(0, 64)) AS INT) AS i FROM img), " +
      "xy AS (SELECT doc_id, seed, i, " +
      "least((i % 8) * w // 8 + w // 16, w - 1) AS x, " +
      "least((i // 8) * h // 8 + h // 16, h - 1) AS y FROM pos), " +
      "gr AS (SELECT doc_id, i, " +
      "(seed*31 + x*7 + y*13) % 256 + (seed*17 + x*11 + y*5) % 256 + " +
      "(seed*23 + x*3 + y*19) % 256 AS g FROM xy), " +
      "st AS (SELECT doc_id, CAST(sum(g) AS BIGINT) // 64 AS m " +
      "FROM gr GROUP BY doc_id), " +
      "hh AS (SELECT gr.doc_id, " +
      "CAST(sum(CASE WHEN gr.g > st.m AND gr.i < 40 " +
      "THEN (CAST(1 AS BIGINT) << gr.i) ELSE 0 END) AS BIGINT) AS ikey " +
      "FROM gr JOIN st USING (doc_id) GROUP BY gr.doc_id), " +
      "imin AS (SELECT ikey, min(doc_id) AS im FROM hh GROUP BY ikey), " +
      "iedges AS (SELECT hh.doc_id AS id_a, imin.im AS id_b FROM hh " +
      "JOIN imin USING (ikey) WHERE hh.doc_id <> imin.im), " +
      "edges AS (SELECT id_a, id_b FROM cedges " +
      "UNION SELECT id_a, id_b FROM iedges), " +
      "sym AS (SELECT id_a AS u, id_b AS v FROM edges " +
      "UNION SELECT id_b AS u, id_a AS v FROM edges), " +
      "reach AS (SELECT doc_id AS node, doc_id AS r FROM base " +
      "UNION SELECT sym.v AS node, reach.r FROM reach " +
      "JOIN sym ON sym.u = reach.node), " +
      "comp AS (SELECT node, min(r) AS cluster_id FROM reach " +
      "GROUP BY node), " +
      "csz AS (SELECT cluster_id, count(*) AS sz, " +
      "count(DISTINCT node // 6) AS nb FROM comp GROUP BY cluster_id) " +
      "SELECT (SELECT count(*) FROM comp) AS n_docs, " +
      "(SELECT CAST(sum(cluster_id) AS BIGINT) FROM comp) AS id_sum, " +
      "(SELECT count(*) FROM hh) AS n_img, " +
      "(SELECT count(*) FROM csz) AS n_clusters, " +
      "(SELECT max(sz) FROM csz) AS max_cluster, " +
      "(SELECT CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) " +
      "AS BIGINT) FROM csz) AS n_redundant, " +
      "(SELECT CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "FROM csz) AS n_bridged")

  /** Rendezvous-vs-mod resharding — the stable-layout story for
    * incremental ingest: HRW assignment ([[Layout.rendezvousShard]])
    * at S=32 and S'=48 moves exactly the docs whose new argmax lands
    * in the 16 added shards (`n_moved == n_into_new` by the prefix
    * property — the surviving shards' scores are unchanged), an
    * expected 1/3, while doc_id-mod resharding relabels ~2/3. Both
    * schemes aggregate through one (scheme, shard) grain with
    * map-side partials; per-row work is 160 model-sized md5s, no
    * join anywhere. max/min shard loads pin HRW's balance. */
  private val shardRendezvous = Q("q_shard_rendezvous",
    (s, d) => {
      val a = docs(s, d).select(col("doc_id"),
        Layout.rendezvousShard(col("doc_id"), 48).as("h48"),
        Layout.rendezvousShard(col("doc_id"), 32).as("h32"),
        pmod(col("doc_id"), lit(48L)).cast("int").as("m48"),
        pmod(col("doc_id"), lit(32L)).cast("int").as("m32"))
      val ex = a.select(col("doc_id"), explode(array(
          struct(lit("hrw").as("scheme"), col("h48").as("shard"),
            (col("h48") =!= col("h32")).as("moved"),
            (col("h48") >= 32).as("into_new")),
          struct(lit("mod").as("scheme"), col("m48").as("shard"),
            (col("m48") =!= col("m32")).as("moved"),
            (col("m48") >= 32).as("into_new")))).as("r"))
        .select(col("doc_id"), col("r.scheme"), col("r.shard"),
          col("r.moved"), col("r.into_new"))
      ex.groupBy("scheme", "shard")
        .agg(count(lit(1)).as("n"),
          sum(when(col("moved"), 1L).otherwise(0L)).as("mv"),
          sum(when(col("into_new"), 1L).otherwise(0L)).as("inw"),
          sum(col("shard").cast("long") *
            pmod(col("doc_id"), lit(997L))).as("pn"))
        .groupBy("scheme")
        .agg(sum(col("n")).as("n_docs"), sum(col("mv")).as("n_moved"),
          sum(col("inw")).as("n_into_new"), max(col("n")).as("max_load"),
          min(col("n")).as("min_load"), sum(col("pn")).as("shard_pin"))
        .orderBy("scheme")
    },
    "WITH ls AS (SELECT doc_id, " +
      s"${Layout.RendezvousScoresSql("doc_id", 48)} AS l48, " +
      s"${Layout.RendezvousScoresSql("doc_id", 32)} AS l32 " +
      "FROM documents), " +
      "asn AS (SELECT doc_id, " +
      "CAST(list_position(l48, list_aggregate(l48, 'max')) - 1 AS INT) " +
      "AS h48, " +
      "CAST(list_position(l32, list_aggregate(l32, 'max')) - 1 AS INT) " +
      "AS h32, CAST(doc_id % 48 AS INT) AS m48, " +
      "CAST(doc_id % 32 AS INT) AS m32 FROM ls), " +
      "ex AS (SELECT doc_id, 'hrw' AS scheme, h48 AS shard, " +
      "h48 <> h32 AS moved, h48 >= 32 AS into_new FROM asn " +
      "UNION ALL SELECT doc_id, 'mod', m48, m48 <> m32, m48 >= 32 " +
      "FROM asn), " +
      "l1 AS (SELECT scheme, shard, count(*) AS n, " +
      "sum(CASE WHEN moved THEN 1 ELSE 0 END) AS mv, " +
      "sum(CASE WHEN into_new THEN 1 ELSE 0 END) AS inw, " +
      "sum(shard * (doc_id % 997)) AS pn FROM ex " +
      "GROUP BY scheme, shard) " +
      "SELECT scheme, CAST(sum(n) AS BIGINT) AS n_docs, " +
      "CAST(sum(mv) AS BIGINT) AS n_moved, " +
      "CAST(sum(inw) AS BIGINT) AS n_into_new, " +
      "CAST(max(n) AS BIGINT) AS max_load, " +
      "CAST(min(n) AS BIGINT) AS min_load, " +
      "CAST(sum(pn) AS BIGINT) AS shard_pin " +
      "FROM l1 GROUP BY scheme ORDER BY scheme")

  /** Histogram range/resolution for the RHO excess-loss scores
    * (declared before first oracle use — object vals initialize in
    * order). The excess of two same-class LMs differing only in
    * training subset is SMALL (measured [-0.11, 0.02] at sf0.01): a
    * wide coarse histogram would interpolate p75 past the max and
    * select nothing, so the range is tight and 256 buckets keep the
    * threshold inside the populated mass. */
  private val RhoLo = -0.25
  private val RhoHi = 0.25
  private val RhoBuckets = 256

  /** RHO-style learnability selection (Lin et al. 2024 "Rho-1", also
    * the DoReMi/DSIR family's "reference model" move): score every
    * doc under a BASE bigram LM trained on the full corpus and a
    * REFERENCE LM trained on the quality-floored clean subset; keep
    * the top quartile by excess loss (nll_base − nll_ref) — docs the
    * base model finds hard but the clean-corpus model finds easy,
    * i.e. learnable signal rather than noise. Scale shape: two LM
    * trainings are two hash aggregates each on 45-bit keys; scoring
    * is the verified q_text_perplexity join shape (many-to-one on
    * post-agg keys, unseen n-grams via left-join + fill); the p75
    * threshold comes from the portable histogram sketch (≤ 64 rows)
    * broadcast back — no window, no driver round-trip. The kept SET
    * is pinned by id sums (flip odds per doc ~1e-10 from last-ulp ln
    * differences — the accepted q_stats_mi discipline). */
  private val sampleRho = Q("q_sample_rho",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize+quality pass: the pinned frame carries the hash
      // lists plus the clean-subset flag; both LM trainings, both
      // scorings and the source join derive from it (the unpinned
      // plan scanned documents.parquet 28 times — every train/score
      // subplan re-tokenized the corpus, and the quality regex ran
      // once per ref-LM subplan)
      val hl = pin(d0.select(col("doc_id"), col("source"),
        Dedup.tokenHashList(col("text")).as("__hl"),
        (TextAnalysis.qualityScore(col("text")) >= 0.7).as("__clean")))
      val lmBase = NgramLm.trainFromHl(hl, "doc_id")
      val lmRef = NgramLm.trainFromHl(hl.where(col("__clean")), "doc_id")
      val nb = NgramLm.perplexityFromHl(hl, "doc_id", lmBase)
        .select(col("doc_id"), col("nll").as("nll_base"))
      val nr = NgramLm.perplexityFromHl(hl, "doc_id", lmRef)
        .select(col("doc_id"), col("nll").as("nll_ref"))
      // doc-grain excess frame, read twice (threshold sketch + the
      // final keep aggregate) — pin it or the whole LM chain above
      // runs twice
      val ex = pin(hl.select("doc_id", "source")
        .join(nb, "doc_id").join(nr, "doc_id")
        .withColumn("excess", col("nll_base") - col("nll_ref")))
      val qrow = graft.ops.Sketches.histogramQuantiles(ex,
          col("excess"), lo = RhoLo, hi = RhoHi, nBuckets = RhoBuckets,
          qs = Seq(0.75))
        .select("p75")
      ex.crossJoin(broadcast(qrow))
        .where(col("excess") >= col("p75"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("excess")), 5).as("avg_excess"),
          round(min(col("p75")), 5).as("p75"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE " +
        "/ greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, " +
        s"1.0) + 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), " +
        "0.0), 1.0)"
      "WITH t AS (SELECT doc_id, source, text, " +
        "string_split(text, ' ') AS ws, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"clean AS (SELECT doc_id FROM t WHERE $qs >= 0.7), " +
        "bg0 AS (SELECT doc_id, unnest([{'w1': hl[i], " +
        s"'b': (hl[i]*31 + hl[i+1]) % $M} " +
        "for i in range(1, len(hl))]) AS u FROM t), " +
        "bg AS (SELECT doc_id, u.w1 AS w1, u.b AS b FROM bg0), " +
        "cbB AS (SELECT b, count(*) AS cb FROM bg GROUP BY b), " +
        "cuB AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1), " +
        "vB AS (SELECT count(DISTINCT h) AS v FROM " +
        "(SELECT unnest(hl) AS h FROM t)), " +
        "bgR AS (SELECT bg.doc_id, bg.w1, bg.b FROM bg " +
        "JOIN clean USING (doc_id)), " +
        "cbR AS (SELECT b, count(*) AS cb FROM bgR GROUP BY b), " +
        "cuR AS (SELECT w1, count(*) AS cu FROM bgR GROUP BY w1), " +
        "vR AS (SELECT count(DISTINCT h) AS v FROM " +
        "(SELECT unnest(hl) AS h FROM t JOIN clean USING (doc_id))), " +
        "pb AS (SELECT doc_id, avg(-ln((cbB.cb + 1.0) / " +
        "CAST(cuB.cu + vB.v AS DOUBLE))) AS nll_base " +
        "FROM bg JOIN cbB USING (b) JOIN cuB USING (w1) " +
        "CROSS JOIN vB GROUP BY doc_id), " +
        "pr AS (SELECT bg.doc_id, avg(-ln((coalesce(cbR.cb, 0) + 1.0) " +
        "/ CAST(coalesce(cuR.cu, 0) + vR.v AS DOUBLE))) AS nll_ref " +
        "FROM bg LEFT JOIN cbR USING (b) LEFT JOIN cuR USING (w1) " +
        "CROSS JOIN vR GROUP BY bg.doc_id), " +
        "ex AS (SELECT t.doc_id, t.source, " +
        "pb.nll_base - pr.nll_ref AS excess FROM t " +
        "JOIN pb ON t.doc_id = pb.doc_id " +
        "JOIN pr ON t.doc_id = pr.doc_id), " +
        "h AS (SELECT " +
        s"${graft.ops.Sketches.BucketSql("excess", RhoLo, RhoHi, RhoBuckets)} " +
        "AS b FROM ex), " +
        "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
        "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER () AS n FROM hist), " +
        "qq AS (SELECT " +
        s"${graft.ops.Sketches.QuantileSql(0.75, RhoLo, RhoHi, RhoBuckets)} " +
        "AS p75 FROM c) " +
        "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "round(avg(excess), 5) AS avg_excess, " +
        "round(min(p75), 5) AS p75 " +
        "FROM ex CROSS JOIN qq WHERE excess >= p75 " +
        "GROUP BY source ORDER BY source"
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
      val stopSum = TextAnalysis.LangPriority.map(stopSql).mkString(" + ")
      val wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
      val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE " +
        "/ greatest(length(replace(text, ' ', ''))::DOUBLE, 1.0)"
      val qs = "least(greatest(0.4*least(length(text)::DOUBLE / 200.0, " +
        s"1.0) + 0.3*(1.0 - ($punct)) " +
        s"+ 0.3*least((($stopSum)::DOUBLE / $wc::DOUBLE)*5.0, 1.0), " +
        "0.0), 1.0)"
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
        s"fl AS (SELECT t.doc_id, $qs >= 0.7 AS p1, $wc >= 25 AS p2, " +
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

  /** Audio-quality gating through REAL decode: per-doc parameters →
    * PCM16 clip with PLANTED silence stretches and clip spikes
    * ([[Multimodal.wavQualityPatternColumn]]) → REAL RIFF parse into
    * integer registers ([[graft.ops.Codecs.audioQualityStats]]) →
    * integer-exact gates (silence ratio > 0.2 as n_silent·5 > n;
    * clip rate > 0.005 as n_clipped·200 > n — no float thresholds
    * anywhere). The planted rates straddle both gates (silence
    * (0..5)/16, clips ~{1/89, 1/189, 1/289}), so the flag counts
    * prove the gates discriminate. Oracle recomputes every register
    * from the sample formula — a parser mis-reading any sample,
    * frame boundary, or clip position breaks the sums. Bytes never
    * shuffle; only registers aggregate. */
  private val multimodalAudioQuality = Q("q_multimodal_audioquality",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(floor(col("doc_id") / lit(10L)), lit(24L)).cast("int")
            .as("seed"))
        .withColumn("n",
          (lit(512) + lit(64) * pmod(col("seed"), lit(8))).cast("int"))
      val aq = Multimodal.audioQualityColumn(
        Multimodal.wavQualityPatternColumn(params, "n", "seed"), "media")
      aq.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("aq_silent") * 5 > col("aq_n"), 1L).otherwise(0L))
            .as("n_flag_silence"),
          sum(when(col("aq_clipped") * 200 > col("aq_n"), 1L)
            .otherwise(0L)).as("n_flag_clip"),
          sum(col("aq_silent")).as("sum_silent"),
          sum(col("aq_clipped")).as("sum_clipped"),
          sum(col("aq_peak")).as("sum_peak"),
          sum(col("aq_sumabs")).as("sum_abs"))
        .orderBy("source")
    },
    "WITH d0 AS (SELECT doc_id, source, " +
      "CAST((doc_id // 10) % 24 AS INT) AS seed FROM documents), " +
      "dd AS (SELECT doc_id, source, seed, " +
      "512 + 64 * (seed % 8) AS n FROM d0), " +
      "tt AS (SELECT doc_id, source, seed, n, " +
      "CAST(unnest(range(0, n)) AS INT) AS t FROM dd), " +
      "sv AS (SELECT doc_id, source, " +
      "CASE WHEN t // (n // 16) < seed % 6 THEN 0 " +
      "WHEN (t * 7 + seed) % (89 + 100 * (seed % 3)) = 0 THEN 32767 " +
      "ELSE ((seed*131 + t*t*7 + t*13) % 32001) - 16000 END AS v " +
      "FROM tt), " +
      "aq AS (SELECT doc_id, source, count(*) AS ns, " +
      "CAST(sum(CASE WHEN abs(v) <= 16 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS nsil, " +
      "CAST(sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS nclip, " +
      "max(abs(v)) AS peak, CAST(sum(abs(v)) AS BIGINT) AS sabs " +
      "FROM sv GROUP BY doc_id, source) " +
      "SELECT source, count(*) AS n_clips, " +
      "CAST(sum(CASE WHEN nsil * 5 > ns THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_flag_silence, " +
      "CAST(sum(CASE WHEN nclip * 200 > ns THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_flag_clip, " +
      "CAST(sum(nsil) AS BIGINT) AS sum_silent, " +
      "CAST(sum(nclip) AS BIGINT) AS sum_clipped, " +
      "CAST(sum(peak) AS BIGINT) AS sum_peak, " +
      "CAST(sum(sabs) AS BIGINT) AS sum_abs " +
      "FROM aq GROUP BY source ORDER BY source")

  /** MinHash threshold sweep — the similarity-floor tuning curve from
    * ONE LSH pass: for every candidate threshold τ = k/8
    * (k = 4..8 agreeing signature components), the surviving pair
    * count, covered-doc count, and covered-doc id checksum, WITHOUT
    * re-running signatures or the bucket join per τ. Scale shape:
    * the data-sized work (signatures → capped bucket join → scored
    * pairs) happens once; the sweep is a ≤ 9-row agreement histogram
    * plus a per-doc max-agreement aggregate, each joined to a 5-row
    * level table — at 100 TB you tune τ from this ONE artifact
    * instead of five corpus passes. Agreement counts are INTEGERS
    * (est_jaccard·8) so level comparisons are exact. */
  private val dedupThresholdSweep = Q("q_dedup_threshold_sweep",
    (s, d) => {
      val sigs = Dedup.minhashSignatures(docs(s, d), "text", "doc_id")
      val pairs = Dedup.minhashCandidatesAndOversizeFromSigs(
          sigs, "doc_id", MinhashCap)._1
        .select(col("id_a"), col("id_b"),
          (col("est_jaccard") * 8).cast("int").as("agree"))
      val pa = pairs.groupBy("agree").agg(count(lit(1)).as("cnt"))
      val dm = pairs.select(col("id_a").as("id"), col("agree"))
        .union(pairs.select(col("id_b").as("id"), col("agree")))
        .groupBy("id").agg(max(col("agree")).as("am"))
      val lv = s.range(4, 9).select(col("id").cast("int").as("k"))
      val np = lv.join(pa, pa("agree") >= lv("k"), "left")
        .groupBy("k")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_pairs"))
      val nd = lv.join(dm, dm("am") >= lv("k"), "left")
        .groupBy("k")
        .agg(count(col("id")).as("n_docs"),
          coalesce(sum(col("id")), lit(0L)).as("id_sum"))
      np.join(nd, "k")
        .select(col("k"), (col("k") / lit(8.0)).as("tau"),
          col("n_pairs"), col("n_docs"), col("id_sum"))
        .orderBy("k")
    },
    s"WITH $minhashCtes, ${pairsSql(MinhashCap)}, " +
      "scored AS (SELECT id_a, id_b, " +
      s"($agreeSql) AS agree FROM pairs " +
      "JOIN sigs sa ON id_a = sa.doc_id " +
      "JOIN sigs sb ON id_b = sb.doc_id), " +
      "pa AS (SELECT agree, count(*) AS cnt FROM scored GROUP BY agree), " +
      "dm AS (SELECT id, max(agree) AS am FROM (" +
      "SELECT id_a AS id, agree FROM scored " +
      "UNION ALL SELECT id_b AS id, agree FROM scored) GROUP BY id), " +
      "lv AS (SELECT CAST(unnest(range(4, 9)) AS INT) AS k), " +
      "np AS (SELECT k, CAST(coalesce(sum(cnt), 0) AS BIGINT) " +
      "AS n_pairs FROM lv LEFT JOIN pa ON pa.agree >= lv.k GROUP BY k), " +
      "nd AS (SELECT k, CAST(count(dm.id) AS BIGINT) AS n_docs, " +
      "CAST(coalesce(sum(dm.id), 0) AS BIGINT) AS id_sum " +
      "FROM lv LEFT JOIN dm ON dm.am >= lv.k GROUP BY k) " +
      "SELECT np.k AS k, np.k / 8.0 AS tau, n_pairs, n_docs, id_sum " +
      "FROM np JOIN nd USING (k) ORDER BY k")

  /** Eval budget for the largest-remainder quota allocation
    * (declared before first oracle use). */
  private val QuotaB = 200

  /** Largest-remainder (Hamilton) quota allocation + realization:
    * split a fixed eval budget of [[QuotaB]] docs across sources
    * proportionally to CHAR mass (so remainders genuinely vary —
    * doc counts are near-uniform on this corpus), award the floor
    * quotas, then the leftover seats to the largest remainders
    * (ties → source name) — all integer arithmetic, so the
    * allocation is exact on any engine. Realization keeps each
    * source's quota smallest hash draws via the bounded TopK
    * aggregate (O(budget) state per group, never a data-grain rank
    * window — the only row_number runs on the |sources|-row quota
    * table, the UniMax post-agg-grain precedent). Kept sets pinned
    * by id sums. */
  private val sampleQuota = Q("q_sample_quota",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = docs(s, d)
      val counts = d0.groupBy("source").agg(count(lit(1)).as("ns"),
        sum(col("n_chars")).as("cs"))
      val tot = counts.agg(sum(col("cs")).as("ct"))
      val qbase = counts.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($QuotaB * cs) div ct"))
        .withColumn("rem", (lit(QuotaB.toLong) * col("cs")) % col("ct"))
      val defRow = qbase
        .agg((lit(QuotaB.toLong) - sum(col("base"))).as("deficit"))
      val w = Window.orderBy(col("rem").desc, col("source").asc)
      val quotas = qbase.crossJoin(broadcast(defRow))
        .withColumn("rk", row_number().over(w))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("deficit"), 1L)
            .otherwise(0L))
        .select("source", "ns", "cs", "quota")
      val top = d0.groupBy("source")
        .agg(graft.ops.TopK.topK(-Sampling.hashFraction(col("doc_id")),
          col("doc_id").cast("long"), QuotaB).as("__top"))
        .select(col("source"), posexplode(col("__top")))
        .select(col("source"), col("pos"), col("col.id").as("doc_id"))
      val kept = top.join(quotas.select("source", "quota"), "source")
        .where(col("pos") < col("quota"))
        .groupBy("source")
        .agg(count(lit(1)).as("nk"), sum(col("doc_id")).as("isum"))
      quotas.join(kept, Seq("source"), "left")
        .select(col("source"), col("ns").as("n_docs"),
          col("cs").as("chars"), col("quota"),
          coalesce(col("nk"), lit(0L)).as("n_kept"),
          coalesce(col("isum"), lit(0L)).as("id_sum"))
        .orderBy("source")
    },
    "WITH c AS (SELECT source, count(*) AS ns, " +
      "CAST(sum(n_chars) AS BIGINT) AS cs FROM documents " +
      "GROUP BY source), " +
      "t AS (SELECT CAST(sum(cs) AS BIGINT) AS ct FROM c), " +
      s"qb AS (SELECT source, ns, cs, ($QuotaB * cs) // ct AS base, " +
      s"($QuotaB * cs) % ct AS rem FROM c CROSS JOIN t), " +
      s"df AS (SELECT $QuotaB - CAST(sum(base) AS BIGINT) AS deficit " +
      "FROM qb), " +
      "qt AS (SELECT source, ns, cs, base + (CASE WHEN " +
      "row_number() OVER (ORDER BY rem DESC, source ASC) <= deficit " +
      "THEN 1 ELSE 0 END) AS quota FROM qb CROSS JOIN df), " +
      "rk AS (SELECT source, doc_id, row_number() OVER (" +
      "PARTITION BY source ORDER BY " +
      s"${Sampling.HashFractionSql("doc_id")} ASC, doc_id ASC) AS rn " +
      "FROM documents), " +
      "kept AS (SELECT rk.source, count(*) AS nk, " +
      "CAST(sum(rk.doc_id) AS BIGINT) AS isum FROM rk " +
      "JOIN qt USING (source) WHERE rk.rn <= qt.quota " +
      "GROUP BY rk.source) " +
      "SELECT qt.source AS source, qt.ns AS n_docs, qt.cs AS chars, " +
      "CAST(qt.quota AS BIGINT) AS quota, " +
      "CAST(coalesce(kept.nk, 0) AS BIGINT) AS n_kept, " +
      "CAST(coalesce(kept.isum, 0) AS BIGINT) AS id_sum " +
      "FROM qt LEFT JOIN kept ON qt.source = kept.source " +
      "ORDER BY source")

  /** k-core threshold / peel-round bound (declared before first
    * oracle use). k=5 sits inside the undirected-3NN degree range
    * [3, ~8], so the peel genuinely discriminates. */
  private val KCoreK = 5
  private val KCoreRounds = 12

  /** k-core of the undirected kNN similarity graph
    * ([[GraphRank.kCore]]) — the dup-farm/dense-region detector: a
    * plain degree threshold misreports density because removing one
    * low-degree node drops neighbors below k transitively; the peel
    * fixpoint doesn't. Oracle unrolls the SAME bounded peel rounds
    * as CTE stages (the PageRank/BPE discipline); extra rounds after
    * convergence are no-ops, so Spark's early-stopping loop matches
    * the fixed-round replay exactly, and `n_below` (survivors with
    * deg < k) pins convergence honestly — 0 means the peel reached
    * its fixpoint within the bound. */
  private val embedKCore = Q("q_embed_kcore",
    (s, d) => {
      val g = Similarity.knnGraph(embs(s, d), "vec_id", "embedding", 3)
        .select("src", "dst")
      val core = GraphRank.kCore(g, "src", "dst", KCoreK, KCoreRounds)
      val glob = core.agg(count(lit(1)).as("n_core"),
        coalesce(sum(when(col("deg") < KCoreK, 1L).otherwise(0L)),
          lit(0L)).as("n_below"))
      core.join(embs(s, d).select(col("vec_id").as("node"),
          col("label")), "node")
        .groupBy("label")
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"),
          sum(col("node")).as("id_sum"))
        .crossJoin(glob)
        .orderBy("label")
    }, {
      val rounds = (1 to KCoreRounds).map { r =>
        val prev = s"g${r - 1}"
        s"k$r AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS d " +
          s"FROM $prev GROUP BY u) WHERE d >= $KCoreK), " +
          s"g$r AS MATERIALIZED (SELECT p.u, p.v FROM $prev p " +
          s"JOIN k$r a ON p.u = a.u JOIN k$r b ON p.v = b.u)"
      }.mkString(", ")
      s"WITH e AS (SELECT vec_id, label, embedding AS emb, " +
        s"(${bucketSql(8)}) AS bucket, " +
        s"sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
        "FROM embeddings), " +
        "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
        "FROM e a JOIN e b ON a.bucket = b.bucket " +
        "AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk FROM p), " +
        "gk AS (SELECT src, dst FROM r WHERE rk <= 3), " +
        "g0 AS MATERIALIZED (SELECT u, v FROM " +
        "(SELECT src AS u, dst AS v FROM gk " +
        "UNION SELECT dst AS u, src AS v FROM gk) WHERE u <> v), " +
        s"$rounds, " +
        s"fin AS (SELECT u AS node, count(*) AS deg FROM g$KCoreRounds " +
        "GROUP BY u), " +
        "gstat AS (SELECT count(*) AS n_core, " +
        "CAST(coalesce(sum(CASE WHEN deg < " + KCoreK +
        " THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below FROM fin) " +
        "SELECT em.label AS label, count(*) AS n_nodes, " +
        "CAST(sum(fin.deg) AS BIGINT) AS deg_sum, " +
        "CAST(sum(fin.node) AS BIGINT) AS id_sum, " +
        "max(gstat.n_core) AS n_core, max(gstat.n_below) AS n_below " +
        "FROM fin JOIN embeddings em ON fin.node = em.vec_id " +
        "CROSS JOIN gstat GROUP BY em.label ORDER BY em.label"
    })

  /** Poisson-bootstrap replicate count / draw modulus / Poisson(1)
    * inverse-CDF cutoffs at 2⁻²⁰ fixed point (floor(CDF(k)·2²⁰),
    * computed at 50-digit precision; tail truncated at w=6, mass
    * ~6e-4 of a ulp of M). Declared before first oracle use. */
  private val BootB = 64
  private val BootM = 1048576L
  private val BootCuts: Array[Long] =
    Array(385749L, 771499L, 964373L, 1028665L, 1044738L, 1047952L)

  /** Per-source mean length with a percentile CI from B=64 POISSON
    * bootstrap replicates — the bootstrap that survives 100 TB: the
    * classic resample-n-with-replacement needs a global draw per
    * replicate, but Poisson(1) weights are per-ROW independent
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google TR 2012), so all 64 replicates fold into ONE
    * scan whose ×64 row expansion feeds straight into a map-side
    * partial agg — only 64·|sources| partial rows ever shuffle.
    * Weights are drawn by integer comparison of a 60-bit md5 draw
    * against fixed-point CDF cutoffs: zero float parsing, both
    * engines compare the same integers. CI = order statistics 4/61
    * of the 64 sorted replicate means (~5th/95th pct). */
  private val statsBootstrap = Q("q_stats_bootstrap",
    (s, d) => {
      val dd = docs(s, d)
      val pt = dd.groupBy("source").agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double"), 5).as("mean_pt"))
      val u = pmod(TextAnalysis.tokenHash(
        concat(col("doc_id").cast("string"), lit(":"),
          col("b").cast("string"))), lit(BootM))
      val w = BootCuts.zipWithIndex.foldRight(lit(BootCuts.length)) {
        case ((cut, k), acc) => when(col("u") < cut, lit(k)).otherwise(acc)
      }
      val rep = dd.select(col("doc_id"), col("source"), col("n_chars"),
          explode(sequence(lit(0), lit(BootB - 1))).as("b"))
        .withColumn("u", u).withColumn("w", w)
      val means = rep.groupBy("source", "b")
        .agg((sum((col("w") * col("n_chars")).cast("long")).cast("double") /
          greatest(sum(col("w").cast("long")), lit(1L)).cast("double"))
          .as("mean_b"))
      val ci = means.groupBy("source")
        .agg(sort_array(collect_list(col("mean_b"))).as("arr"))
        .select(col("source"),
          round(element_at(col("arr"), 4), 5).as("ci_lo"),
          round(element_at(col("arr"), 61), 5).as("ci_hi"))
      pt.join(ci, "source").orderBy("source")
    }, {
      val uSql = TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)") +
        s" % $BootM"
      val wSql = BootCuts.zipWithIndex.map { case (cut, k) =>
        s"WHEN u < $cut THEN $k" }.mkString("CASE ", " ",
        s" ELSE ${BootCuts.length} END")
      s"WITH r AS (SELECT source, doc_id, n_chars, " +
        "CAST(unnest(range(0, 64)) AS BIGINT) AS b FROM documents), " +
        s"d AS (SELECT source, b, n_chars, $uSql AS u FROM r), " +
        s"ww AS (SELECT source, b, n_chars, $wSql AS w FROM d), " +
        "m AS (SELECT source, b, " +
        "CAST(sum(w * n_chars) AS DOUBLE) / " +
        "CAST(greatest(sum(w), 1) AS DOUBLE) AS mean_b " +
        "FROM ww GROUP BY source, b), " +
        "a AS (SELECT source, list(mean_b ORDER BY mean_b) AS arr " +
        "FROM m GROUP BY source), " +
        "p AS (SELECT source, count(*) AS n_docs, " +
        "round(CAST(sum(n_chars) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 5) AS mean_pt " +
        "FROM documents GROUP BY source) " +
        "SELECT p.source AS source, n_docs, mean_pt, " +
        "round(arr[4], 5) AS ci_lo, round(arr[61], 5) AS ci_hi " +
        "FROM p JOIN a ON p.source = a.source ORDER BY source"
    })

  /** Fleiss' κ over three deterministic synthetic raters — the
    * inter-annotator-agreement gate every labeling/quality-rating
    * stage needs before its labels train a filter. Rater r buckets a
    * doc by length (t = 0/1/2 at 200/400 chars) but flips to a wrong
    * bucket when its md5 draw says so (~20%), so agreement is high
    * but imperfect and κ is non-degenerate. All counts stay integer
    * through the per-source aggregate; the κ ratio is evaluated with
    * the same operation order in both engines. Scale: pure per-row
    * expressions into one map-side-combined agg — no joins, no
    * windows, rater columns never leave their partition. */
  private val statsKappa = Q("q_stats_kappa",
    (s, d) => {
      val t = when(col("n_chars") < 200L, 0L)
        .when(col("n_chars") < 400L, 1L).otherwise(2L)
      def rater(r: Int): org.apache.spark.sql.Column = {
        val h = pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit(s"#r$r"))), lit(10L))
        when(h < 8L, col("t"))
          .otherwise(pmod(col("t") + lit(1L) + pmod(h, lit(2L)), lit(3L)))
      }
      def nc(c: Int): org.apache.spark.sql.Column =
        (0 until 3).map(r => when(col(s"c$r") === c, 1L).otherwise(0L))
          .reduce(_ + _)
      val scored = docs(s, d).withColumn("t", t)
        .withColumn("c0", rater(0)).withColumn("c1", rater(1))
        .withColumn("c2", rater(2))
        .select(col("source") +: (0 until 3).map(c => nc(c).as(s"n$c")): _*)
      val agg = scored.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n0") * col("n0") + col("n1") * col("n1") +
          col("n2") * col("n2") - lit(3L)).as("s_pi"),
        sum(col("n0")).as("m0"), sum(col("n1")).as("m1"),
        sum(col("n2")).as("m2"))
      val pbar = col("s_pi").cast("double") /
        (col("n_docs") * lit(6L)).cast("double")
      def pc(c: Int): org.apache.spark.sql.Column = col(s"m$c").cast("double") /
        (col("n_docs") * lit(3L)).cast("double")
      val pe = pc(0) * pc(0) + pc(1) * pc(1) + pc(2) * pc(2)
      agg.select(col("source"), col("n_docs"),
          round(pbar, 5).as("p_bar"), round(pe, 5).as("p_exp"),
          round((pbar - pe) / greatest(lit(1.0) - pe, lit(0.000001)), 5)
            .as("kappa"))
        .orderBy("source")
    }, {
      def hSql(r: Int): String = TextAnalysis.TokenHashSql(
        s"CAST(doc_id AS VARCHAR) || '#r$r'") + " % 10"
      def cSql(r: Int): String =
        s"CASE WHEN h$r < 8 THEN t ELSE (t + 1 + (h$r % 2)) % 3 END"
      def ncSql(c: Int): String =
        (0 until 3).map(r => s"(CASE WHEN c$r = $c THEN 1 ELSE 0 END)")
          .mkString(" + ")
      "WITH t0 AS (SELECT source, doc_id, " +
        "CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 " +
        "ELSE 2 END AS t FROM documents), " +
        s"h AS (SELECT source, t, ${hSql(0)} AS h0, ${hSql(1)} AS h1, " +
        s"${hSql(2)} AS h2 FROM t0), " +
        s"c AS (SELECT source, ${cSql(0)} AS c0, ${cSql(1)} AS c1, " +
        s"${cSql(2)} AS c2 FROM h), " +
        s"nn AS (SELECT source, ${ncSql(0)} AS n0, ${ncSql(1)} AS n1, " +
        s"${ncSql(2)} AS n2 FROM c), " +
        "a AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n0*n0 + n1*n1 + n2*n2 - 3) AS BIGINT) AS s_pi, " +
        "CAST(sum(n0) AS BIGINT) AS m0, CAST(sum(n1) AS BIGINT) AS m1, " +
        "CAST(sum(n2) AS BIGINT) AS m2 FROM nn GROUP BY source) " +
        "SELECT source, n_docs, " +
        "round(CAST(s_pi AS DOUBLE) / CAST(n_docs * 6 AS DOUBLE), 5) " +
        "AS p_bar, " +
        "round((CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)), 5) " +
        "AS p_exp, " +
        "round((CAST(s_pi AS DOUBLE) / CAST(n_docs * 6 AS DOUBLE) - " +
        "((CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)))) / " +
        "greatest(1.0 - " +
        "((CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m0 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m1 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) + " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE)) * " +
        "(CAST(m2 AS DOUBLE) / CAST(n_docs * 3 AS DOUBLE))), " +
        "0.000001), 5) AS kappa " +
        "FROM a ORDER BY source"
    })

  /** Bitext-mining margin threshold / neighborhood size / fixed-point
    * scale (declared before first oracle use). */
  private val BitextK = 3
  private val BitextTau = 1.02
  private val BitextFx = 1048576.0 // 2^20

  /** Margin-based bitext candidate mining ([[Similarity.bitextMine]],
    * Artetxe & Schwenk 2019 — the LASER/CCMatrix parallel-corpus
    * recipe): label halves stand in for the two languages, each
    * side-0 vector is paired with its best cross-side LSH-bucket
    * neighbor, and the pair is scored by the ratio margin
    * cos/((avgK_a+avgK_b)/2) — the hubness correction a plain cosine
    * threshold lacks. Margins quantize via the guard-banded
    * floor(m·2²⁰ + 0.5) before summing (the MiFx discipline); the
    * k-neighbor averages fold in TopK's fixed (cos desc, id asc)
    * order, mirrored by ordered-list sums in the oracle, so margins
    * are bit-exact cross-engine. Bucketed, never all-pairs; both
    * averages are O(k)-state aggregates — no data-grain window. */
  private val embedBitext = Q("q_embed_bitext",
    (s, d) => {
      val e = embs(s, d).withColumn("side",
        when(col("label") < 5, 0).otherwise(1))
      val mined = Similarity.bitextMine(e, "vec_id", "embedding",
        "side", BitextK)
      val la = embs(s, d).select(col("vec_id").as("id_a"),
        col("label").as("label_a"))
      mined.join(la, "id_a")
        .select(col("label_a"),
          floor(col("margin") * lit(BitextFx) + lit(0.5)).cast("long")
            .as("mfp"),
          (col("margin") > lit(BitextTau)).as("is_mined"),
          col("id_a"), col("id_b"))
        .groupBy("label_a")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("is_mined"), 1L).otherwise(0L)).as("n_mined"),
          round(sum(col("mfp")).cast("double") / lit(BitextFx), 5)
            .as("margin_sum"),
          sum(when(col("is_mined"), col("id_a") + col("id_b"))
            .otherwise(0L)).as("mined_ids"))
        .orderBy("label_a")
    },
    "WITH e AS (SELECT vec_id, label, " +
      "CASE WHEN label < 5 THEN 0 ELSE 1 END AS side, " +
      "embedding AS emb, " +
      s"(${bucketSql(8)}) AS bucket, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
      "FROM embeddings), " +
      "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      s"${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos " +
      "FROM e a JOIN e b ON a.bucket = b.bucket " +
      "AND a.side = 0 AND b.side = 1), " +
      // ordered-list sums replicate TopK's fold order exactly
      s"aa AS (SELECT id_a, list_sum(" +
      s"list(cos ORDER BY cos DESC, id_b ASC)[1:$BitextK]) / " +
      s"least(count(*), $BitextK) AS avg_a FROM p GROUP BY id_a), " +
      s"bb AS (SELECT id_b, list_sum(" +
      s"list(cos ORDER BY cos DESC, id_a ASC)[1:$BitextK]) / " +
      s"least(count(*), $BitextK) AS avg_b FROM p GROUP BY id_b), " +
      "rb AS (SELECT id_a, id_b, cos FROM (SELECT id_a, id_b, cos, " +
      "row_number() OVER (PARTITION BY id_a " +
      "ORDER BY cos DESC, id_b ASC) AS rn FROM p) WHERE rn = 1), " +
      "m AS (SELECT rb.id_a, rb.id_b, " +
      "rb.cos / ((aa.avg_a + bb.avg_b) / 2.0) AS margin " +
      "FROM rb JOIN aa USING (id_a) JOIN bb USING (id_b)), " +
      "f AS (SELECT em.label AS label_a, m.id_a, m.id_b, " +
      s"CAST(floor(m.margin * $BitextFx + 0.5) AS BIGINT) AS mfp, " +
      s"m.margin > $BitextTau AS is_mined " +
      "FROM m JOIN embeddings em ON m.id_a = em.vec_id) " +
      "SELECT label_a, count(*) AS n_cand, " +
      "CAST(sum(CASE WHEN is_mined THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_mined, " +
      s"round(CAST(sum(mfp) AS DOUBLE) / $BitextFx, 5) AS margin_sum, " +
      "CAST(sum(CASE WHEN is_mined THEN id_a + id_b ELSE 0 END) " +
      "AS BIGINT) AS mined_ids " +
      "FROM f GROUP BY label_a ORDER BY label_a")

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

  /** Difficulty-curriculum training order: docs bin by an integer
    * difficulty proxy (length quartile — short = easy), shard by the
    * salted epoch-shuffle hash, and order (bin asc, hash, id) WITHIN
    * each shard — easy-first curriculum with hash-decorrelated order
    * inside each difficulty band, parallel across shards (the
    * q_sample_shuffle scale shape; the per-shard window is the
    * packing argument: a training ORDER is sequential per shard by
    * definition). The (pos, id) checksum pins every doc's exact
    * position; Σ pos·bin is the monotonicity witness (minimal ⇔
    * easy-first). */
  private val CurrShards = 4
  private val sampleCurriculum = Q("q_sample_curriculum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val q0 = docs(s, d).select(col("doc_id"),
        least(col("n_chars").cast("long") / lit(256L), lit(3L))
          .cast("long").as("bin"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#cur#0"))),
          lit(CurrShards.toLong)).as("shard"),
        TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#crd#0"))).as("okey"))
      val w = Window.partitionBy("shard")
        .orderBy(col("bin").asc, col("okey").asc, col("doc_id").asc)
      q0.withColumn("pos", row_number().over(w).cast("long") - 1)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bin")).as("bin_sum"),
          sum(col("pos") * col("bin")).as("pos_bin_sum"),
          sum((col("pos") % AssignMod * 31 + col("doc_id") % AssignMod)
            % AssignMod).as("order_sum"))
        .orderBy("shard")
    },
    "WITH q0 AS (SELECT doc_id, " +
      "least(n_chars // 256, 3) AS bin, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#cur#0'")} % $CurrShards AS shard, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#crd#0'")} AS okey " +
      "FROM documents), " +
      "r AS (SELECT shard, bin, doc_id, row_number() OVER (" +
      "PARTITION BY shard ORDER BY bin ASC, okey ASC, doc_id ASC) - 1 " +
      "AS pos FROM q0) " +
      "SELECT shard, count(*) AS n_docs, " +
      "CAST(sum(bin) AS BIGINT) AS bin_sum, " +
      "CAST(sum(pos * bin) AS BIGINT) AS pos_bin_sum, " +
      s"CAST(sum((pos % $AssignMod * 31 + doc_id % $AssignMod) " +
      s"% $AssignMod) AS BIGINT) AS order_sum " +
      "FROM r GROUP BY shard ORDER BY shard")

  /** Clip-level video dedup through REAL frame decode — the
    * q_multimodal_imagededup discipline one level up the media
    * stack: parameter-built MJPEG clips (seed mod 25 plants identical
    * clips within and across sources) → [[Multimodal.decodeColumn]]
    * through the built-in MJPEG decoder (sample walk → JPEG decode →
    * per-frame aHash) → clip signature = weighted frame-hash fold →
    * exact-group dedup stats. The oracle recomputes each frame hash
    * from the block formula (2^k − 1), so the dedup groups only
    * match if every frame of every clip decoded correctly. Bytes
    * never shuffle; only (source, sig) reaches the aggregates. */
  private val multimodalVideoDedup = Q("q_multimodal_videodedup",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(25L)).cast("int").as("seed"))
        .withColumn("k0",
          (pmod(col("seed") * 7 + 5, lit(32)) + 8).cast("int"))
        .withColumn("k1",
          (pmod(col("seed") * 11 + 2, lit(32)) + 8).cast("int"))
        .withColumn("k2",
          (pmod(col("seed") * 3 + 17, lit(32)) + 8).cast("int"))
      val built = Multimodal.mjpegPatternColumn(
        Multimodal.spreadParams(params, "doc_id"),
        Seq("k0", "k1", "k2"))
      // pinned: global + per-source aggregates are different
      // subtrees — unpinned, the MJPEG encode + frame decode kernel
      // ran twice (r14 optimization round)
      val sig = pin(Multimodal.decodeColumn(built, "media", "jpeg",
          featDim = 3)
        .select(col("source"),
          pmod(element_at(col("features"), 1).cast("long") * 31 +
            element_at(col("features"), 2).cast("long") * 17 +
            element_at(col("features"), 3).cast("long") * 13,
            lit(DigestMod)).as("sig")))
      val global = sig.agg(countDistinct(col("sig")).as("n_groups"),
        (count(lit(1)) - countDistinct(col("sig"))).as("n_redundant"))
      sig.groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          countDistinct(col("sig")).as("n_distinct"),
          sum(col("sig")).as("sig_sum"))
        .crossJoin(global)
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 25 AS INT) AS seed FROM documents), " +
      "k AS (SELECT source, " +
      "(seed*7 + 5) % 32 + 8 AS k0, " +
      "(seed*11 + 2) % 32 + 8 AS k1, " +
      "(seed*3 + 17) % 32 + 8 AS k2 FROM p), " +
      "sg AS (SELECT source, " +
      "(((CAST(1 AS BIGINT) << k0) - 1) * 31 + " +
      "((CAST(1 AS BIGINT) << k1) - 1) * 17 + " +
      s"((CAST(1 AS BIGINT) << k2) - 1) * 13) % $DigestMod AS sig " +
      "FROM k), " +
      "g AS (SELECT count(DISTINCT sig) AS n_groups, " +
      "count(*) - count(DISTINCT sig) AS n_redundant FROM sg) " +
      "SELECT source, count(*) AS n_clips, " +
      "count(DISTINCT sig) AS n_distinct, " +
      "CAST(sum(sig) AS BIGINT) AS sig_sum, " +
      "max(g.n_groups) AS n_groups, max(g.n_redundant) AS n_redundant " +
      "FROM sg CROSS JOIN g GROUP BY source ORDER BY source")

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

  /** Packing-policy audit: the same corpus packed by one-pass
    * next-fit in ARRIVAL order vs next-fit-DECREASING (length-sorted)
    * order — both through the identical
    * [[Sampling.packNoSplitOrdered]] O(1)-state kernel, differing
    * only in the order key (NFD's is (window+1−t)·2⁴⁰ + id — unique,
    * so the walk order is total and replayable). `waste_delta`
    * (arrival − NFD) measures what the ordering policy is worth —
    * and on this corpus it is NEGATIVE: sorting descending HURTS a
    * next-fit packer (two near-window docs can never share a bin, so
    * the front of the sorted stream strands a gap per bin, while
    * arrival order interleaves big and small). That is the audit's
    * point — "sort by length" is folk wisdom from FIRST-fit-
    * decreasing, and a one-pass packer needs the measurement, not
    * the folklore. The oracle replays BOTH walks as recursive CTEs
    * (the q_pipeline_trainorder discipline), so every bin boundary
    * of both schemes is pinned. */
  private val packAudit = Q("q_pack_audit",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#pk#0"))),
          lit(4L)).as("shard"))
      def walk(ord: org.apache.spark.sql.Column, scheme: String) =
        Sampling.packNoSplitOrdered(base, col("shard"), ord,
            col("nt"), PackWindow, 4)
          .groupBy("shard")
          .agg((max(col("bin")) + 1).as(s"${scheme}_bins"),
            ((max(col("bin")) + 1) * PackWindow - sum(col("t")))
              .as(s"${scheme}_waste"),
            sum((col("ord") % AssignMod * 31 + col("bin") % AssignMod)
              % AssignMod).as(s"${scheme}_assign"))
      val t = least(col("nt"), lit(PackWindow.toLong))
      val arr = walk(col("doc_id"), "arrival")
      val nfd = walk((lit(PackWindow.toLong + 1) - t) *
        lit(1L << 40) + col("doc_id"), "nfd")
      arr.join(nfd, "shard")
        .withColumn("waste_delta",
          col("arrival_waste") - col("nfd_waste"))
        .orderBy("shard")
    }, {
      def walkSql(ordExpr: String, tag: String) =
        s"rk_$tag AS MATERIALIZED (SELECT shard, tt, ord, " +
          "row_number() OVER (PARTITION BY shard ORDER BY ord) AS rn " +
          s"FROM (SELECT shard, tt, $ordExpr AS ord FROM b)), " +
          s"walk_$tag AS (" +
          "SELECT shard, rn, ord, tt, CAST(0 AS BIGINT) AS bin, " +
          s"tt AS fill FROM rk_$tag WHERE rn = 1 " +
          "UNION ALL " +
          s"SELECT r.shard, r.rn, r.ord, r.tt, " +
          s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.bin " +
          "ELSE w.bin + 1 END, " +
          s"CASE WHEN w.fill + r.tt <= $PackWindow " +
          "THEN w.fill + r.tt ELSE r.tt END " +
          s"FROM walk_$tag w JOIN rk_$tag r ON r.shard = w.shard " +
          "AND r.rn = w.rn + 1), " +
          s"agg_$tag AS (SELECT shard, " +
          s"CAST(max(bin) + 1 AS BIGINT) AS ${tag}_bins, " +
          s"CAST((max(bin) + 1) * $PackWindow - sum(tt) AS BIGINT) " +
          s"AS ${tag}_waste, " +
          s"CAST(sum((ord % $AssignMod * 31 + bin % $AssignMod) " +
          s"% $AssignMod) AS BIGINT) AS ${tag}_assign " +
          s"FROM walk_$tag GROUP BY shard)"
      "WITH RECURSIVE b AS MATERIALIZED (SELECT doc_id, " +
        s"least(len(string_split(text, ' ')), $PackWindow) AS tt, " +
        s"${TextAnalysis.TokenHashSql(
          "CAST(doc_id AS VARCHAR) || '#pk#0'")} % 4 AS shard " +
        "FROM documents), " +
        walkSql("doc_id", "arrival") + ", " +
        walkSql(s"(${PackWindow + 1} - tt) * ${1L << 40} + doc_id",
          "nfd") + " " +
        "SELECT shard, arrival_bins, arrival_waste, arrival_assign, " +
        "nfd_bins, nfd_waste, nfd_assign, " +
        "arrival_waste - nfd_waste AS waste_delta " +
        "FROM agg_arrival JOIN agg_nfd USING (shard) ORDER BY shard"
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

  /** EXIF metadata round-trip: per-doc camera parameters → a real
    * 8×8 JPEG carrying a canonical EXIF APP1 (both TIFF byte orders,
    * IFD0 + Exif IFD + optional GPS IFD with 3-rational DMS
    * coordinates — [[Multimodal.exifBuildColumn]]) → marker walk +
    * IFD pointer chase ([[graft.ops.Exif.parse]]) → per-(source,
    * orientation) aggregates. The signed-millidegree lat/lon sums pin
    * the RATIONAL decode and the N/S/E/W sign convention exactly
    * (writer layout (deg, min·60/1000, 0) is integer-exact both
    * ways); n_bigend pins the MM byte-order path against the II one;
    * the year sums pin ASCII tag extraction through the Exif-IFD
    * pointer. Bytes never shuffle. */
  private val multimodalExif = Q("q_multimodal_exif",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("Maker"), pmod(col("doc_id"), lit(5))).as("mk"),
        concat(lit("M"), pmod(col("doc_id"), lit(7))).as("md"),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int").as("orient"),
        (lit(2000) + pmod(col("doc_id"), lit(20))).cast("int").as("yr"),
        (pmod(col("doc_id") * 31, lit(180001L)) - 90000L).as("lat"),
        (pmod(col("doc_id") * 53, lit(360001L)) - 180000L).as("lon"),
        (pmod(col("doc_id"), lit(3)) =!= 0).as("gps"),
        (pmod(col("doc_id"), lit(5)) === 0).as("be"))
      val built = Multimodal.exifBuildColumn(src, "mk", "md", "orient",
        "yr", "lat", "lon", "gps", "be")
      Multimodal.exifMetaColumn(built, "media")
        .groupBy(col("source"), col("exif.orientation").as("orientation"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("exif.has_gps"), 1L).otherwise(0L)).as("n_gps"),
          sum(coalesce(col("exif.lat_milli"), lit(0L))).as("sum_lat"),
          sum(coalesce(col("exif.lon_milli"), lit(0L))).as("sum_lon"),
          sum(when(col("exif.big_endian"), 1L).otherwise(0L))
            .as("n_bigend"),
          sum(col("exif.year").cast("long")).as("sum_year"),
          sum(col("exif.year_original").cast("long")).as("sum_year_orig"),
          countDistinct(col("exif.make")).as("n_makes"))
        .orderBy("source", "orientation")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 8 + 1 AS INTEGER) AS orient, " +
      "2000 + doc_id % 20 AS yr, " +
      "(doc_id * 31) % 180001 - 90000 AS lat, " +
      "(doc_id * 53) % 360001 - 180000 AS lon, " +
      "doc_id % 3 <> 0 AS gps, doc_id % 5 = 0 AS be, " +
      "doc_id % 5 AS mk FROM documents) " +
      "SELECT source, orient AS orientation, count(*) AS n, " +
      "CAST(sum(CASE WHEN gps THEN 1 ELSE 0 END) AS BIGINT) AS n_gps, " +
      "CAST(sum(CASE WHEN gps THEN lat ELSE 0 END) AS BIGINT) AS sum_lat, " +
      "CAST(sum(CASE WHEN gps THEN lon ELSE 0 END) AS BIGINT) AS sum_lon, " +
      "CAST(sum(CASE WHEN be THEN 1 ELSE 0 END) AS BIGINT) AS n_bigend, " +
      "CAST(sum(yr) AS BIGINT) AS sum_year, " +
      "CAST(sum(yr + 1) AS BIGINT) AS sum_year_orig, " +
      "count(DISTINCT mk) AS n_makes " +
      "FROM p GROUP BY source, orient ORDER BY source, orientation")

  /** The privacy op on top of the EXIF round-trip: GPS-coordinate
    * STRIPPING ([[graft.ops.Exif.stripGps]] — parse, reserialize the
    * APP1 without the GPS IFD, splice). The stripped file re-parses
    * with every non-location field intact (sum_year_after), zero GPS
    * (n_gps_after), the non-APP1 bytes — scan data, quant tables —
    * byte-identical (n_scan_same = n), and the byte saving is the
    * EXACT canonical GPS block size (114 = 12-byte IFD0 pointer entry
    * + 54-byte 4-entry GPS IFD + 48 bytes of rationals; pinned in
    * ExifSpec against the writer). A curation pipeline runs exactly
    * this pass before archiving crawled images. */
  private val multimodalExifStrip = Q("q_multimodal_exifstrip",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("Maker"), pmod(col("doc_id"), lit(5))).as("mk"),
        concat(lit("M"), pmod(col("doc_id"), lit(7))).as("md"),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int").as("orient"),
        (lit(2000) + pmod(col("doc_id"), lit(20))).cast("int").as("yr"),
        (pmod(col("doc_id") * 31, lit(180001L)) - 90000L).as("lat"),
        (pmod(col("doc_id") * 53, lit(360001L)) - 180000L).as("lon"),
        (pmod(col("doc_id"), lit(3)) =!= 0).as("gps"),
        (pmod(col("doc_id"), lit(5)) === 0).as("be"))
      val built = Multimodal.exifBuildColumn(src, "mk", "md", "orient",
        "yr", "lat", "lon", "gps", "be")
      val stripped = Multimodal.exifStripColumn(built, "media")
      Multimodal.exifMetaColumn(stripped, "media")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("exif.has_gps"), 1L).otherwise(0L))
            .as("n_gps_after"),
          sum(col("removed").cast("long")).as("sum_removed"),
          sum(when(col("scan_same"), 1L).otherwise(0L)).as("n_scan_same"),
          sum(col("exif.year").cast("long")).as("sum_year_after"),
          sum(col("exif.orientation").cast("long")).as("sum_orient_after"))
        .orderBy("source")
    },
    "WITH p AS (SELECT doc_id, source, doc_id % 8 + 1 AS orient, " +
      "2000 + doc_id % 20 AS yr, doc_id % 3 <> 0 AS gps " +
      "FROM documents) " +
      "SELECT source, count(*) AS n, " +
      "CAST(0 AS BIGINT) AS n_gps_after, " +
      "CAST(sum(CASE WHEN gps THEN 114 ELSE 0 END) AS BIGINT) " +
      "AS sum_removed, " +
      "count(*) AS n_scan_same, " +
      "CAST(sum(yr) AS BIGINT) AS sum_year_after, " +
      "CAST(sum(orient) AS BIGINT) AS sum_orient_after " +
      "FROM p GROUP BY source ORDER BY source")

  /** ID3v2.3 provenance-tag round-trip ON TOP of a real Layer-III
    * stream: per-doc title/artist/album/year → a real tag
    * ([[graft.ops.Id3.buildTag]], UTF-16 titles every 4th doc) glued
    * to valid MP3 frames → BOTH parsers over the same bytes
    * ([[Multimodal.id3MetaColumn]] reads the tag,
    * [[Multimodal.mp3MetaColumn]] must still find the audio frames
    * PAST it — the skip-vs-read interop pin). The title-length sum
    * breaks if the UTF-16 BOM path mis-decodes; the tag-byte sum
    * pins the v2.3 plain-size frame arithmetic (the classic
    * syncsafe-confusion bug); the mp3 frame sum pins the tag-skip in
    * the audio walk. Bytes never shuffle. */
  private val multimodalId3 = Q("q_multimodal_id3",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("T"), pmod(col("doc_id") * 13, lit(997))).as("title"),
        concat(lit("A"), pmod(col("doc_id"), lit(7))).as("artist"),
        concat(lit("AL"), pmod(col("doc_id"), lit(5))).as("album"),
        (lit(1970) + pmod(col("doc_id"), lit(50))).cast("int").as("yr"),
        (pmod(col("doc_id"), lit(4)) === 0).as("u16"),
        (pmod(col("doc_id"), lit(2)) === 0).as("mpeg1"),
        (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("nf"))
      val built = Multimodal.id3BuildColumn(src, "title", "artist",
        "album", "yr", "u16", "mpeg1", "nf")
      val withTag = Multimodal.id3MetaColumn(built, "media")
      Multimodal.mp3MetaColumn(withTag, "media")
        .groupBy(col("source"), col("id3.artist").as("artist"))
        .agg(count(lit(1)).as("n"),
          sum(col("id3.year").cast("long")).as("sum_year"),
          sum(length(col("id3.title")).cast("long")).as("sum_title_len"),
          sum(col("id3.n_utf16").cast("long")).as("n_utf16"),
          countDistinct(col("id3.album")).as("n_albums"),
          sum(col("id3.tag_bytes").cast("long")).as("sum_tag_bytes"),
          sum(col("id3.n_frames").cast("long")).as("sum_tag_frames"),
          sum(col("mp3.n_frames")).as("sum_mp3_frames"))
        .orderBy("source", "artist")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "1 + length(CAST((doc_id * 13) % 997 AS VARCHAR)) AS tl, " +
      "'A' || CAST(doc_id % 7 AS VARCHAR) AS artist, " +
      "CAST(doc_id % 5 AS VARCHAR) AS alb, " +
      "1970 + doc_id % 50 AS yr, " +
      "doc_id % 4 = 0 AS u16, " +
      "1 + doc_id % 5 AS nf FROM documents), " +
      "q AS (SELECT source, artist, alb, yr, tl, nf, " +
      "CASE WHEN u16 THEN 1 ELSE 0 END AS n16, " +
      // TIT2: 10 hdr + enc byte + (BOM 2 + 2·len | len); TPE1 11+2;
      // TALB 11+2+len(alb); TYER 11+4; tag header 10
      "10 + (CASE WHEN u16 THEN 13 + 2 * tl ELSE 11 + tl END) " +
      "+ 13 + (13 + length(alb)) + 15 AS tagb FROM p) " +
      "SELECT source, artist, count(*) AS n, " +
      "CAST(sum(yr) AS BIGINT) AS sum_year, " +
      "CAST(sum(tl) AS BIGINT) AS sum_title_len, " +
      "CAST(sum(n16) AS BIGINT) AS n_utf16, " +
      "count(DISTINCT alb) AS n_albums, " +
      "CAST(sum(tagb) AS BIGINT) AS sum_tag_bytes, " +
      "CAST(count(*) * 4 AS BIGINT) AS sum_tag_frames, " +
      "CAST(sum(nf) AS BIGINT) AS sum_mp3_frames " +
      "FROM q GROUP BY source, artist ORDER BY source, artist")

  /** Scene-cut detection over REAL frame decode — the video-curation
    * segmentation pass (shot boundaries via perceptual-hash distance
    * between consecutive frames, the pHash flavor of FFmpeg's
    * scdet): 6-frame AVI clips (DIB24 + RLE8 codecs,
    * [[Multimodal.aviPatternColumn]]) with a planted luma jump at a
    * per-clip cut position under ±1-block frame-to-frame drift →
    * real decode → per-frame 64-bit aHash → consecutive Hamming
    * distances via codegen'd `zip_with`/`bit_count` → threshold →
    * per-clip cut count + first cut position. The oracle replays the
    * block-pattern hash distances (|k_j − k_{j−1}| between prefix
    * masks) from the parameter formulas, so a decoder that blurs a
    * frame, an off-by-one in the frame walk, or a wrong Hamming
    * kernel all break the hash. Arrays stay in whole-stage codegen;
    * bytes never shuffle. */
  private val multimodalSceneCut = Q("q_multimodal_scenecut",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(60L)).cast("int").as("seed"),
          pmod(col("doc_id"), lit(2L)).cast("int").as("rle"))
        .withColumn("base",
          (pmod(col("seed") * 5 + 11, lit(12)) + 8).cast("int"))
      val withKs = (0 until 6).foldLeft(params) { (df, j) =>
        df.withColumn(s"k$j",
          (col("base") + lit(j % 2) +
            when(pmod(col("seed"), lit(3)) === 0 &&
              lit(j) >= pmod(col("seed"), lit(4)) + 1, 16)
              .otherwise(0)).cast("int"))
      }
      val built = Multimodal.aviPatternColumn(
        Multimodal.spreadParams(withKs, "doc_id"),
        (0 until 6).map(j => s"k$j"), "rle")
      val dec = Multimodal.decodeColumn(built, "media", "avi", featDim = 6)
      val f = transform(col("features"), x => x.cast("long"))
      val diffs = zip_with(slice(f, 1, 5), slice(f, 2, 5),
        (a, b) => bit_count(a.bitwiseXOR(b)))
      dec.select(col("source"), col("rle"), diffs.as("dh"))
        .select(col("source"), col("rle"),
          size(filter(col("dh"), x => x >= 10)).as("cuts"),
          coalesce(array_position(
            transform(col("dh"), x => x >= 10), lit(true)), lit(0L))
            .cast("int").as("first_pos"),
          aggregate(col("dh"), lit(0), (acc, x) => acc + x).as("d_total"))
        .groupBy("source", "rle")
        .agg(count(lit(1)).as("n_clips"),
          sum(col("cuts").cast("long")).as("sum_cuts"),
          sum(when(col("cuts") > 0, 1L).otherwise(0L)).as("n_cut_clips"),
          sum(col("first_pos").cast("long")).as("sum_first_pos"),
          sum(col("d_total").cast("long")).as("sum_hamming"))
        .orderBy("source", "rle")
    },
    "WITH p AS (SELECT doc_id, source, " +
      "CAST(doc_id % 60 AS INT) AS seed, " +
      "CAST(doc_id % 2 AS INT) AS rle FROM documents), " +
      "q AS (SELECT doc_id, source, rle, seed % 3 = 0 AS cut, " +
      "seed % 4 + 1 AS cp FROM p), " +
      "dj AS (SELECT doc_id, source, rle, r.j, " +
      "abs((r.j % 2) - ((r.j - 1) % 2) " +
      "+ (CASE WHEN cut AND r.j >= cp THEN 16 ELSE 0 END) " +
      "- (CASE WHEN cut AND r.j - 1 >= cp THEN 16 ELSE 0 END)) AS d " +
      "FROM q CROSS JOIN (SELECT unnest(range(1, 6)) AS j) r), " +
      "clip AS (SELECT doc_id, source, rle, " +
      "sum(CASE WHEN d >= 10 THEN 1 ELSE 0 END) AS cuts, " +
      "coalesce(min(CASE WHEN d >= 10 THEN j END), 0) AS first_pos, " +
      "sum(d) AS d_total " +
      "FROM dj GROUP BY doc_id, source, rle) " +
      "SELECT source, rle, count(*) AS n_clips, " +
      "CAST(sum(cuts) AS BIGINT) AS sum_cuts, " +
      "CAST(sum(CASE WHEN cuts > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_cut_clips, " +
      "CAST(sum(first_pos) AS BIGINT) AS sum_first_pos, " +
      "CAST(sum(d_total) AS BIGINT) AS sum_hamming " +
      "FROM clip GROUP BY source, rle ORDER BY source, rle")

  /** Subtitle–video alignment (the multimodal composition a
    * captioned-clip pipeline actually runs): per doc, the REAL AVI
    * scene-cut chain (pattern build → frame decode → hamming diffs →
    * first cut position, exactly q_multimodal_scenecut's machinery)
    * AND the REAL subtitle chain (track build → format-sniffed parse)
    * — then, map-only on the same row (no join: both derive from the
    * doc), count the cues whose [start, end] interval spans the
    * detected cut at 20 s/frame and checksum their text. Either
    * side drifting — a missed cut, a wrong first_pos, a
    * millisecond-off cue time, an unstripped tag — breaks n_aligned
    * or the aligned checksum. Video bytes are dropped before the cue
    * explode; nothing heavy shuffles. */
  private val multimodalSubAlign = Q("q_multimodal_subalign",
    (s, d) => {
      val params = docs(s, d).select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(60L)).cast("int").as("seed"),
          pmod(col("doc_id"), lit(2L)).cast("int").as("rle"))
        .withColumn("base",
          (pmod(col("seed") * 5 + 11, lit(12)) + 8).cast("int"))
      val withKs = (0 until 6).foldLeft(params) { (df, j) =>
        df.withColumn(s"k$j",
          (col("base") + lit(j % 2) +
            when(pmod(col("seed"), lit(3)) === 0 &&
              lit(j) >= pmod(col("seed"), lit(4)) + 1, 16)
              .otherwise(0)).cast("int"))
      }
      val built = Multimodal.aviPatternColumn(
        Multimodal.spreadParams(withKs, "doc_id"),
        (0 until 6).map(j => s"k$j"), "rle")
      val dec = Multimodal.decodeColumn(built, "media", "avi", featDim = 6)
      val f = transform(col("features"), x => x.cast("long"))
      val diffs = zip_with(slice(f, 1, 5), slice(f, 2, 5),
        (a, b) => bit_count(a.bitwiseXOR(b)))
      val clip = dec.select(col("doc_id"), col("source"),
        coalesce(array_position(
          transform(diffs, x => x >= 10), lit(true)), lit(0L))
          .as("first_pos"))
      val cues = Multimodal.subtitleCuesColumn(
        Multimodal.subtitleBuildColumn(clip, "doc_id", "subs"), "subs")
      val t = col("first_pos") * lit(20000L)
      val aligned = col("first_pos") > 0 &&
        col("start_ms") < t && t <= col("end_ms")
      cues.groupBy("source")
        .agg(count(lit(1)).as("n_cues"),
          countDistinct(when(col("first_pos") > 0, col("doc_id")))
            .as("n_cut_clips"),
          sum(when(aligned, 1L).otherwise(0L)).as("n_aligned"),
          sum(when(aligned,
            TextAnalysis.tokenHash(col("cue_text")) % lit(DigestMod))
            .otherwise(0L)).as("aligned_ck"))
        .orderBy("source")
    },
    {
      val fp = "(CASE WHEN (doc_id % 60) % 3 = 0 " +
        "THEN (doc_id % 60) % 4 + 1 ELSE 0 END)"
      def terms(expr: Int => String): String =
        (0 until 5).map { i =>
          val guard = if (i < 2) s"CASE WHEN 1 = 1 THEN "
          else s"CASE WHEN doc_id % 4 >= ${i - 1} THEN "
          s"$guard${expr(i)} ELSE 0 END"
        }.mkString(" + ")
      def alignGuard(i: Int): String = {
        val st = s"((doc_id * 97) % 100000 + ${i * 4000})"
        val en = s"($st + 1500 + (doc_id + $i) % 2000)"
        s"CASE WHEN $fp > 0 AND $st < $fp * 20000 " +
          s"AND $fp * 20000 <= $en THEN "
      }
      val nAligned = terms(i => s"(${alignGuard(i)}1 ELSE 0 END)")
      val ckAligned = terms { i =>
        val txt = s"'Cue ' || CAST(doc_id AS VARCHAR) || ' n ${i + 1}' " +
          s"|| chr(10) || 'w ' || CAST((doc_id + $i) % 7 AS VARCHAR)"
        s"(${alignGuard(i)}${TextAnalysis.TokenHashSql(txt)} " +
          s"% $DigestMod ELSE 0 END)"
      }
      "SELECT source, " +
        "CAST(sum(doc_id % 4 + 2) AS BIGINT) AS n_cues, " +
        s"CAST(sum(CASE WHEN (doc_id % 60) % 3 = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_cut_clips, " +
        s"CAST(sum($nAligned) AS BIGINT) AS n_aligned, " +
        s"CAST(sum($ckAligned) AS BIGINT) AS aligned_ck " +
        "FROM documents GROUP BY source ORDER BY source"
    })

  /** Magic-byte format sniffing over a MIXED media corpus — the
    * routing pass every crawled-blob pipeline runs before choosing a
    * decoder (Content-Type lies; bytes don't): 20 formats, each row
    * built by the repo's REAL encoder for its format
    * ([[Multimodal.sniffBuildColumn]]) → [[graft.ops.Sniff.detect]]
    * (prefix/structure checks in a pinned priority order, RIFF
    * fourcc + WAV-codec-id discrimination, strict-UTF-8 text vs
    * binary) → per-(source, fmt) counts with a doc-id sum pinning
    * the per-ROW label assignment, not just the histogram. A sniffer
    * that confuses PCM WAV with IMA-ADPCM WAV, misses the ustar
    * offset-257 magic, or lets a NUL-carrying blob pass as text
    * breaks the hash. Bytes never shuffle. */
  private val multimodalSniff = Q("q_multimodal_sniff",
    (s, d) => {
      val names = Seq("jpeg", "png", "gif", "bmp", "wav", "adpcm-wav",
        "flac", "mp3", "mp4", "zip", "gzip", "tar", "text", "binary",
        "xml", "pdf", "mbox", "vtt", "srt", "epub")
      val src = docs(s, d).select(col("doc_id"), col("source"),
        pmod(col("doc_id"), lit(20)).cast("int").as("sel"), col("text"))
      val built = Multimodal.sniffBuildColumn(
        Multimodal.spreadParams(src, "doc_id"), "sel", "text")
      Multimodal.sniffColumn(built, "media")
        .groupBy("source", "fmt")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_doc"))
        .orderBy("source", "fmt")
    },
    "SELECT source, ['jpeg', 'png', 'gif', 'bmp', 'wav', 'adpcm-wav', " +
      "'flac', 'mp3', 'mp4', 'zip', 'gzip', 'tar', 'text', 'binary', " +
      "'xml', 'pdf', 'mbox', 'vtt', 'srt', 'epub']" +
      "[CAST(doc_id % 20 AS INT) + 1] AS fmt, " +
      "count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_doc " +
      "FROM documents GROUP BY source, fmt ORDER BY source, fmt")

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

  /** The canonical form both messy spellings
    * ([[Multimodal.messyUrl1]]/[[Multimodal.messyUrl2]]) reduce to —
    * the DuckDB side of the URL-canonicalization contract, rebuilt
    * directly from doc_id. */
  private val CanonUrlSql: String =
    "'http' || CASE WHEN doc_id % 2 = 1 THEN 's' ELSE '' END || " +
      "'://example' || (doc_id % 20) || '.com' || " +
      "CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END || " +
      "'/a/c' || (doc_id % 5) || '/foo/page' || doc_id || '%2Fx' || " +
      "CASE WHEN doc_id % 4 = 0 THEN '?q=' || doc_id || '&x=A' " +
      "ELSE '' END"

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

  // ---------------------------------------------------------------- export

  val all: Vector[Q] = Vector(
    dedupExact, dedupMinhash, dedupMinhashCapped, dedupMinhashGroups,
    dedupClusters, dedupProfile, dedupCanonical, dedupSimhash, dedupNgram,
    dedupIncremental, dedupIncrementalNear, dedupIncrClusters, dedupBloom, dedupSpans,
    dedupSubstrings, dedupSubstringsApply, dedupWinnow,
    dedupContainment, dedupSemantic,
    embedTop1, embedTopK, embedAnnLsh, embedLshSized, embedAnnTop1,
    embedNearDup, embedNearDupCapped, embedClusters, embedTriplets, embedLshRecall,
    embedKnnGraph, embedPageRank, embedLabelProp, embedGraphStats,
    embedRp, embedRpAnn, embedIvf, embedIvfMp,
    embedKmeans, embedCoreset, embedCovariance, embedOutliers, embedDrift, gpRff,
    embedPq, embedIvfPq, embedRerank, embedSq8, embedContamination,
    textLangid, textQuality, textTokens, textNormalize, textFingerprint,
    textVocab, vocabGrowth, textClassifier, textChunks, textBpe, textFertility,
    textEntropy, textC4, textHashEmbed,
    textScripts, textCalibration, textTopDups,
    textPerplexity, textPmi, textDistinctN, textBm25, textRrf, textPii,
    textContamination, sketchHll,
    sketchHllBy, sketchCms, sketchAms, sketchQuantile, sketchQuantileBy,
    sketchHeavyHitters, sketchBottomK, sketchKmv,
    textDupNgrams, textNovelty, textDrift, textLineDedup,
    textLineDedupApply,
    textUrls,
    qualityGopher, multimodalMeta,
    multimodalMp4, multimodalMp3, multimodalAvc, multimodalFlac,
    sourceWarc, sourceMarkdown, pipelineIngest, pipelineIngestRobots,
    curation, trainMix,
    pipelineModern, pipelineDiff, pipelineSelect,
    sampleStratified, sampleTemperature, sampleRepeat, sampleFixedN,
    sampleGroupSplit, sampleKfold, embedMatryoshka, textZipf, sampleDoremi,
    sampleWeighted, sampleDomainCap, sampleDsir, sampleTopQuantile,
    sampleTopQuantileBy,
    statsRollup, statsCorr, statsWinsorize, statsMad, statsMi, statsKs,
    topkPerGroup,
    shardManifest, packSequences, packNoSplit, packLenBatch, packBpe,
    packFim, packSpanCorrupt, packChat, packDpo, dedupSoft, textKeywords,
    dedupEditDist, textBlocklist, statsChisq,
    qualityCcnet, textKneserNey, embedHardNeg, dedupHamming,
    textCrossSource, pipelinePosttrain, embedMmr, pipelineDatacard,
    dedupHammingRecall, statsPsi, sampleEvalsafe, multimodalImageDedup,
    mixUnimax, mixUnimaxRealize, sampleShuffle, sampleBudget,
    pipelineTrainorder, pipelineForget, statsBootstrap, statsKappa,
    multimodalAudioDedup, textCodeswitch, multimodalPairDedup,
    shardRendezvous, sampleRho, textBpeDiff, pipelineAttrition,
    multimodalAudioQuality, dedupThresholdSweep, sampleQuota,
    embedKCore, multimodalFrameDecode, embedBitext, pipelineKanon,
    sampleCurriculum, multimodalVideoDedup, sourceJsonl,
    pipelineDpRelease, packAudit, multimodalAvi, multimodalAviDecode,
    dedupEntity, dedupEntityIncremental, dedupEntityIncrementalTau2, sourceParquetMeta,
    dedupEntityQuality, statsJoinSize, dedupEntityTau2,
    multimodalGifDecode, textUnigramLm, dedupCdc, dedupCdcPairs,
    multimodalGifMeta, textWordPiece, textWordPieceApply,
    multimodalFlacDecode, multimodalAdpcm, dedupJaroWinkler,
    shardBloomIndex, dedupEntityJw, textLuhn, textLicense,
    multimodalFlacStereo, multimodalAudioSim, pipelineOptout,
    sourceZip, sourceTar, sourceXml, sourceWarcRevisit,
    multimodalFlacBps, multimodalFlacMulti,
    multimodalExif, multimodalExifStrip,
    multimodalId3, multimodalSceneCut, multimodalSniff, sourceRobots,
    textMojibake, pipelineCompliance, textUrlCanon, pipelineFrontier,
    sourcePdf, sourceMbox, sourceSubtitles, multimodalSubAlign,
    sourceMboxThreads, sourceEpub, pipelineExtract, sourcePatch)
}
