package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.ops.{GraphRank, Pq, Similarity}
import QueryKit._

/** The q_embed_* oracle queries: similarity search, kNN graphs, k-means,
  * coresets, drift and reranking over the embeddings table. */
object EmbedQueries {

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

  /** Embedding snapshot drift — the vector sibling of
    * q_pipeline_diff: per-(label, dim) centroid REGISTERS (int64
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

  /** Squared L2 over a 1-based index RANGE (the PQ subspace form of
    * [[l2Sql]]). */
  private def l2SqlRange(a: String, b: String, lo: Int, hi: Int): String =
    s"list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
      s"for i in generate_series($lo, $hi)])"

  private val PqM = 4
  private val PqKsub = 8
  private val PqW = 16 // 64-dim embeddings / 4 subspaces

  /** PQ subspace column ranges (1-based, inclusive). */
  private def pqSubs = (0 until PqM).map(m => (m * PqW + 1, (m + 1) * PqW))
  /** The SQL PQ encode shared by the PQ oracles: the `cb` codebooks
    * (the first PqKsub vectors), per subspace the argmin over the
    * sub-centroids with a (dist, cid)-lexicographic tie-break — same
    * as the kernel — and the per-vector `codes` (c0..c<PqM-1>). */
  private def pqCodesCtes = {
    val enc = pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
      s"d$m AS (SELECT e.vec_id, c.cid, " +
        s"${l2SqlRange("e.embedding", "c.cemb", lo, hi)} AS dist " +
        "FROM embeddings e CROSS JOIN cb c), " +
        s"a$m AS (SELECT d$m.vec_id, min(d$m.cid) AS c$m FROM d$m " +
        s"JOIN (SELECT vec_id, min(dist) AS md FROM d$m GROUP BY vec_id) m$m " +
        s"ON d$m.vec_id = m$m.vec_id AND d$m.dist = m$m.md " +
        s"GROUP BY d$m.vec_id)"
    }.mkString(", ")
    val codes = (0 until PqM).map(m => s"c$m").mkString(", ")
    val joins = (1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
    "cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "embedding AS cemb FROM (SELECT vec_id, embedding FROM embeddings " +
      s"ORDER BY vec_id LIMIT $PqKsub)), " +
      s"$enc, codes AS (SELECT a0.vec_id, $codes " +
      s"FROM a0 ${joins.mkString(" ")})"
  }
  /** Joins of each code to its codebook row, and the ADC distance of
    * query `q` to the coded vector. */
  private def pqCbJoins = (0 until PqM).map(m =>
    s"JOIN cb b$m ON b$m.cid = codes.c$m").mkString(" ")
  private def pqAdcSum = pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
    s"(${l2SqlRange("q.embedding", s"b$m.cemb", lo, hi)})"
  }.mkString(" + ")

  /** Product quantization end-to-end: deterministic codebooks (the
    * first 8 vectors' slices, positions in id order), one-scan native
    * encode, quantization error, and ADC top-1 over the coded corpus.
    * `sum_codes` pins the code assignment bit-for-bit; the avg
    * distances pin the ADC arithmetic (per-subspace forward-order
    * sums, subtotals added in subspace order on both engines). */
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
      val qerrSum = pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
        s"(${l2SqlRange("e.embedding", s"b$m.cemb", lo, hi)})"
      }.mkString(" + ")
      val codeCols = (0 until PqM).map(m => s"c$m").mkString(" + ")
      s"WITH $pqCodesCtes, " +
        s"qerr AS (SELECT codes.vec_id, ($qerrSum) AS qe FROM codes " +
        s"JOIN embeddings e ON codes.vec_id = e.vec_id $pqCbJoins), " +
        s"adc AS (SELECT q.vec_id, min($pqAdcSum) AS t " +
        "FROM embeddings q JOIN codes ON codes.vec_id <> q.vec_id " +
        s"$pqCbJoins GROUP BY q.vec_id) " +
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
        s"$pqCodesCtes, " +
        "cc2 AS (SELECT codes.*, cell.cell FROM codes " +
        "JOIN cell ON codes.vec_id = cell.vec_id), " +
        "qq AS (SELECT e.vec_id, e.embedding, cell.cell FROM embeddings e " +
        "JOIN cell ON e.vec_id = cell.vec_id), " +
        s"adc AS (SELECT q.vec_id, min($pqAdcSum) AS t " +
        "FROM qq q JOIN cc2 codes ON q.cell = codes.cell " +
        "AND codes.vec_id <> q.vec_id " +
        s"$pqCbJoins GROUP BY q.vec_id) " +
        "SELECT count(*) AS n_hit, round(avg(t), 5) AS avg_ivfpq FROM adc"
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
      s"WITH $pqCodesCtes, " +
        "qq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), " +
        s"cand AS (SELECT q.vec_id AS qid, codes.vec_id AS cid, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ($pqAdcSum), " +
        "codes.vec_id) AS rk FROM qq q JOIN codes " +
        s"ON codes.vec_id <> q.vec_id $pqCbJoins), " +
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

  /** k-core threshold / peel-round bound. k=5 sits inside the
    * undirected-3NN degree range [3, ~8], so the peel genuinely
    * discriminates. */
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

  /** Bitext-mining margin threshold / neighborhood size / fixed-point
    * scale. */
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

  val all: Seq[Q] = Seq(
    embedTop1, embedTopK, embedAnnLsh, embedLshSized, embedAnnTop1,
    embedClusters, embedTriplets, embedKnnGraph, embedPageRank,
    embedLabelProp, embedGraphStats, embedRp, embedRpAnn, embedIvf,
    embedIvfMp, embedKmeans, embedCoreset, embedCovariance, embedOutliers,
    embedDrift, embedPq, embedIvfPq, embedRerank, embedSq8,
    embedContamination, embedMatryoshka, embedHardNeg, embedMmr, embedKCore,
    embedBitext)
}
