package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}
import QueryKit._

/** The q_dedup_* oracle queries: exact, MinHash/LSH, SimHash, n-gram,
  * substring, Bloom, CDC, semantic and entity-resolution dedup. */
object DedupQueries {

  private val dedupExact = Q("q_dedup_exact",
    (s, d) => docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .orderBy("source"),
    "SELECT source, count(*) AS n_docs, " +
      "count(DISTINCT md5(text)) AS n_unique " +
      "FROM documents GROUP BY source ORDER BY source")

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

  private val dedupEntity = Q("q_dedup_entity",
    (s, d) => {
      val rec = dirtyCustomers(typoCustomers(s, d))
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
      val base = typoCustomers(s, d)
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
      val rec = dirtyCustomers(typoCustomers(s, d))
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
      val base = typoCustomers(s, d)
      val rec = dirtyCustomers(base)
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
      val base = typoCustomers(s, d)
      val rec = dirtyCustomers(base)
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
      val rec = dirtyCustomers(typoCustomers(s, d))
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
      val base = typoCustomers(s, d)
      val rec = dirtyCustomers(base)
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

  val all: Seq[Q] = Seq(
    dedupExact, dedupMinhash, dedupMinhashCapped, dedupMinhashGroups,
    dedupClusters, dedupProfile, dedupCanonical, dedupSimhash, dedupNgram,
    dedupIncremental, dedupIncrementalNear, dedupIncrClusters, dedupBloom,
    dedupSpans, dedupSubstrings, dedupSubstringsApply, dedupWinnow,
    dedupContainment, dedupSemantic, embedNearDup, embedNearDupCapped,
    embedLshRecall, dedupSoft, dedupEditDist, dedupHamming,
    dedupHammingRecall, dedupThresholdSweep, dedupEntity,
    dedupEntityIncremental, dedupEntityIncrementalTau2, dedupEntityQuality,
    dedupEntityTau2, dedupCdc, dedupCdcPairs, dedupJaroWinkler,
    dedupEntityJw)
}
