package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}
import QueryKit._

/** The q_stats_*, q_sketch_*, q_topk_* and q_gp_* oracle queries: corpus
  * statistics, sketches, per-group top-k and the RFF GP. */
object StatsQueries {

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
    },
    "WITH t0 AS (SELECT source, text, string_split(text, ' ') AS ws " +
      "FROM documents), " +
      s"tb AS (SELECT source, least(CAST(floor(($QualitySql) * 10) AS INT), " +
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
      "FROM f GROUP BY source, n ORDER BY source")


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

  /** Poisson-bootstrap replicate count / draw modulus / Poisson(1)
    * inverse-CDF cutoffs at 2⁻²⁰ fixed point (floor(CDF(k)·2²⁰),
    * computed at 50-digit precision; tail truncated at w=6, mass
    * ~6e-4 of a ulp of M). */
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

  val all: Seq[Q] = Seq(
    gpRff, sketchHll, sketchHllBy, sketchCms, sketchAms, sketchQuantile,
    sketchQuantileBy, sketchHeavyHitters, sketchBottomK, sketchKmv,
    statsRollup, statsCorr, statsWinsorize, statsMad, statsMi, statsKs,
    topkPerGroup, statsChisq, statsPsi, statsBootstrap, statsKappa,
    statsJoinSize)
}
