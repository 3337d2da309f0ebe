package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable cardinality sketching — HyperLogLog (Flajolet et al.
  * 2007) with every ingredient deterministic arithmetic on a portable
  * hash, so an external engine rebuilds the IDENTICAL register array
  * and estimate from the same key set (the [[Bloom]] design point
  * applied to distinct counting: the sketch itself is
  * oracle-checkable, not a black box like `approx_count_distinct`).
  *
  * Scale shape: one scan computing (bucket, rho) per row — a pure
  * map — then one m-register hash aggregate (map-side partial; the
  * register array is KBs however large the input), then a one-row
  * reduction. Registers from different corpus shards merge by
  * register-wise max, the standard mergeable-sketch property. */
object Sketches {

  /** Column label for quantile q: p50, p90, p99_5, … — distinct for
    * every distinct q ((q*100).round alone collided 0.25 and 0.2549
    * into two p25 columns, an ambiguous-reference trap downstream). */
  private[ops] def quantileLabel(q: Double): String =
    // setScale(6) first: q*100 in doubles is not always exact
    // (0.29*100 = 28.999999999999996 would otherwise leak into a name)
    "p" + BigDecimal(q * 100)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros
      .toPlainString.replace("-", "m").replace(".", "_")

  /** Per-row (bucket, rho) from the portable 60-bit md5 hash:
    * bucket = low b bits, rho = trailing-zero count of the remaining
    * word + 1 (geometric under a uniform hash), sentinel 61−b for a
    * zero word. */
  def hllParts(key: Column, b: Int): (Column, Column) = {
    require(b >= 4 && b <= 20, s"bad HLL precision b=$b")
    val m = 1 << b
    val h = TextAnalysis.tokenHash(key.cast("string"))
    val bucket = h % lit(m.toLong)
    val w = shiftright(h, b)
    val lowbit = w.bitwiseAND(lit(0L) - w)
    val rho = when(w === lit(0L), lit(61 - b))
      .otherwise((round(log(lowbit.cast("double")) / log(lit(2.0)))
        .cast("int") + lit(1)))
    (bucket, rho)
  }

  /** Estimate column over aggregated registers (n_seen, se): α_m bias
    * correction + the small-range linear-counting fallback. */
  private def hllEstimate(m: Int): Column =
    estCol(m, col("n_seen"), col("se"))

  /** One-row cardinality estimate over the distinct values of `key`:
    * (hll_estimate, n_registers_set, sum_rho). The integer register
    * stats pin the sketch exactly. Delegates to [[hllCardinalityBy]]
    * with a constant group so the formula lives once. */
  def hllCardinality(df: DataFrame, key: Column, b: Int = 10): DataFrame =
    hllCardinalityBy(df, lit(0), key, b)
      .select("hll_estimate", "n_seen", "sum_rho")

  /** Per-GROUP cardinality estimates — one sketch per group in the
    * same two map-side-partial aggregates (state: m registers × the
    * number of groups, still KBs per group at any input size).
    * Returns (grp, hll_estimate, n_seen, sum_rho). */
  def hllCardinalityBy(df: DataFrame, group: Column, key: Column,
                       b: Int = 10): DataFrame = {
    val m = 1 << b
    val (bucket, rho) = hllParts(key, b)
    // null keys are not elements of the set: without the filter they
    // form a phantom (null, null) register counted by n_seen but
    // skipped by the se sum — inflating the estimate (and an all-null
    // group would return a null estimate instead of ~0)
    val regs = df.where(key.isNotNull)
      .select(group.as("grp"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("grp", "bucket").agg(max(col("rho")).as("mr"))
    regs.groupBy("grp").agg(count(lit(1)).as("n_seen"),
        sum(col("mr").cast("long")).as("sum_rho"),
        sum(pow(lit(2.0), -col("mr").cast("double"))).as("se"))
      .select(col("grp"), hllEstimate(m).as("hll_estimate"),
        col("n_seen"), col("sum_rho"))
  }

  /** HLL register tables (grp, bucket, mr) for set-algebra — the raw
    * mergeable form of [[hllCardinalityBy]]'s first aggregate. */
  def hllRegistersBy(df: DataFrame, group: Column, key: Column,
                     b: Int = 10): DataFrame = {
    val (bucket, rho) = hllParts(key, b)
    df.where(key.isNotNull) // see hllCardinalityBy
      .select(group.as("grp"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("grp", "bucket").agg(max(col("rho")).as("mr"))
  }

  /** Distinct-count set algebra over per-group register tables: for
    * every group pair (a < b), |A|, |B|, |A∪B| (register-wise max —
    * the EXACT sketch of the union, the mergeable-sketch property),
    * and the inclusion–exclusion intersection estimate
    * |A∩B| ≈ |A| + |B| − |A∪B| (the standard HLL intersection;
    * error grows as the true overlap shrinks — it is a difference of
    * estimates, which is why the union, not the intersection, is the
    * primitive). The whole computation runs over REGISTER tables
    * (groups × m rows) — the data is never rescanned. */
  def hllSetAlgebra(regs: DataFrame, b: Int = 10): DataFrame = {
    val m = 1 << b
    val a = regs.select(col("grp").as("ga"), col("bucket"),
      col("mr").as("ra"))
    val bb = regs.select(col("grp").as("gb"), col("bucket"),
      col("mr").as("rb"))
    val matched = a.join(bb, Seq("bucket"), "inner")
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(
        sum(pow(lit(2.0), -col("ra").cast("double"))).as("sea0"),
        count(lit(1)).as("na0"), // buckets where BOTH sides are set
        sum(pow(lit(2.0), -col("rb").cast("double"))).as("seb0"),
        sum(pow(lit(2.0),
          -greatest(col("ra"), col("rb")).cast("double"))).as("seu0"))
    // buckets set on only one side: add per-group totals minus the
    // matched part (register absent = zero = contributes 1.0 to se)
    val tot = regs.groupBy(col("grp"))
      .agg(count(lit(1)).as("nset"),
        sum(pow(lit(2.0), -col("mr").cast("double"))).as("seset"))
    // EVERY (a < b) pair, including pairs sharing zero registers
    // (small disjoint groups): the bucket join alone would omit them
    // entirely instead of reporting inter_est ~ 0
    val gl = tot.select(col("grp"))
    val pairs = gl.select(col("grp").as("ga"))
      .join(gl.select(col("grp").as("gb")), col("ga") < col("gb"))
      .join(matched, Seq("ga", "gb"), "left")
      .select(col("ga"), col("gb"),
        coalesce(col("sea0"), lit(0.0)).as("sea0"),
        coalesce(col("na0"), lit(0L)).as("na0"),
        coalesce(col("seb0"), lit(0.0)).as("seb0"),
        coalesce(col("seu0"), lit(0.0)).as("seu0"))
    pairs
      .join(tot.select(col("grp").as("ga"), col("nset").as("nseta"),
        col("seset").as("seseta")), "ga")
      .join(tot.select(col("grp").as("gb"), col("nset").as("nsetb"),
        col("seset").as("sesetb")), "gb")
      .select(col("ga"), col("gb"),
        estCol(m, col("nseta"), col("seseta")).as("card_a"),
        estCol(m, col("nsetb"), col("sesetb")).as("card_b"),
        // union registers: matched buckets take max; one-sided
        // buckets keep their side's value
        estCol(m,
          col("nseta") + col("nsetb") - col("na0"),
          col("seu0") + (col("seseta") - col("sea0")) +
            (col("sesetb") - col("seb0"))).as("card_union"))
      .withColumn("inter_est",
        greatest(col("card_a") + col("card_b") - col("card_union"),
          lit(0.0)))
  }

  /** [[hllEstimate]] over explicit (n_seen, se) columns. */
  private def estCol(m: Int, nSeen: Column, se: Column): Column = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val zeros = lit(m.toLong) - nSeen
    val raw = alpha * lit(m.toDouble) * lit(m.toDouble) /
      (se + zeros.cast("double"))
    when(raw <= lit(2.5) * lit(m.toDouble) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
  }

  // ------------------------------------------------- Count-Min sketch

  /** Per-row CMS bucket positions: row r probes
    * ((a_r·(h mod P) + b_r) mod P) mod width with the [[Dedup]]
    * permutation coefficients — the same universal-hash family the
    * MinHash signatures use, so the sketch is portable for free. */
  def cmsPositions(hp: Column, depth: Int, width: Int): Seq[Column] = {
    require(depth >= 1 && depth <= Dedup.NumPerms, s"bad depth=$depth")
    (0 until depth).map(r =>
      ((lit(Dedup.MinhashAs(r)) * hp + lit(Dedup.MinhashBs(r))) %
        lit(Dedup.P)) % lit(width.toLong))
  }

  private def hashP(key: Column): Column =
    TextAnalysis.tokenHash(key.cast("string")) % lit(Dedup.P)

  /** Build the Count-Min sketch (Cormode & Muthukrishnan 2005) of the
    * multiset of `key` values: a (row, pos, cnt) cell table of at
    * most depth×width rows — KBs however large the input, built by
    * one map-side-partial aggregate. Cells never touched are absent
    * (zero). Sketches of corpus shards merge by cell-wise SUM — the
    * mergeable-sketch property, dual to HLL's max. */
  def cmsBuild(df: DataFrame, key: Column, depth: Int = 4,
               width: Int = 1024): DataFrame =
    df.select(hashP(key).as("__hp"))
      .select(posexplode(array(
        cmsPositions(col("__hp"), depth, width): _*)).as(Seq("r", "p")))
      .groupBy("r", "p").agg(count(lit(1)).as("cnt"))

  /** Point-query estimates for a set of keys: min over rows of the
    * probed cells — an integer that NEVER underestimates the true
    * count (the CMS guarantee), so est = exact is checkable
    * outright. `queries` should hold distinct keys in `keyCol`. */
  def cmsEstimate(queries: DataFrame, keyCol: String, sketch: DataFrame,
                  depth: Int = 4, width: Int = 1024): DataFrame =
    queries.select(col(keyCol), hashP(col(keyCol)).as("__hp"))
      .select(col(keyCol), posexplode(array(
        cmsPositions(col("__hp"), depth, width): _*)).as(Seq("r", "p")))
      .join(sketch, Seq("r", "p"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy(col(keyCol)).agg(min(col("cnt")).as("cms_count"))

  // ------------------------------------------- AMS (Count) sketch, F2

  /** Per-row ±1 sign for the AMS sketch — an independent member of
    * the same universal family as [[cmsPositions]], drawn from the
    * UPPER half of the MinHash coefficient table (rows 0..d−1 place,
    * rows d..2d−1 sign), so the whole sketch stays portable
    * deterministic arithmetic. */
  def amsSigns(hp: Column, depth: Int): Seq[Column] = {
    require(depth >= 1 && depth * 2 <= Dedup.NumPerms,
      s"bad AMS depth=$depth")
    (0 until depth).map(r =>
      lit(1L) - lit(2L) * (((lit(Dedup.MinhashAs(depth + r)) * hp +
        lit(Dedup.MinhashBs(depth + r))) % lit(Dedup.P)) % lit(2L)))
  }

  /** Build the AMS / Count sketch (Alon, Matias & Szegedy 1996;
    * Charikar et al. 2002) of the multiset of `key` values: cell
    * (r, p) = Σ sign_r(x) over items placed there — a table of ≤
    * depth×width SIGNED integer cells from one map-side-partial
    * aggregate, KBs at any input size. Unlike CMS counts, cells
    * admit DELETIONS (ingest retractions as sign·(−1)) and square to
    * an F2 estimate; shards merge by cell-wise SUM. */
  def amsBuild(df: DataFrame, key: Column, depth: Int = 4,
               width: Int = 64): DataFrame = {
    val pos = cmsPositions(col("__hp"), depth, width)
    val sgn = amsSigns(col("__hp"), depth)
    df.select(hashP(key).as("__hp"))
      .select(posexplode(array((0 until depth).map(r =>
        struct(pos(r).as("p"), sgn(r).as("s"))): _*)).as(Seq("r", "u")))
      .groupBy(col("r"), col("u.p").as("p"))
      .agg(sum(col("u.s")).as("cell"))
  }

  /** F2 (second frequency moment ≡ self-join size ≡ collision mass)
    * estimate from an AMS sketch: per depth row Σ_p cell² is an
    * unbiased estimate; the returned single-row frame carries the
    * MEDIAN over rows (avg of the two middle order statistics for
    * even depth — integers, so the arithmetic is engine-exact). F2
    * is the quantity behind "how duplicated is this key space"
    * (Σ cnt² over distinct keys) without ever materializing per-key
    * counts. */
  def amsF2(sketch: DataFrame, depth: Int = 4): DataFrame = {
    val rowEst = sketch.groupBy("r")
      .agg(sum(col("cell") * col("cell")).as("f2"))
    // empty sketch -> empty RESULT: the global agg always emits one
    // row, and element_at on its empty array THROWS under Spark 4's
    // default ANSI mode (the same edge contract as histogramQuantiles)
    rowEst.agg(sort_array(collect_list(col("f2"))).as("a"))
      .where(size(col("a")) > 0)
      .select(((element_at(col("a"), (depth + 1) / 2) +
        element_at(col("a"), depth / 2 + 1)) / lit(2.0)).as("ams_f2"))
  }

  /** Equi-join cardinality estimate from TWO AMS sketches built with
    * the same (depth, width, hash family): the per-row inner product
    * Σ_p cellA(r,p)·cellB(r,p) is an unbiased estimator of
    * Σ_k fA(k)·fB(k) — the exact size of A ⋈ B on the key — per
    * Alon, Gibbons, Matias & Szegedy 1999. This is the
    * planner-grade question at 100 TB: whether a join output is
    * broadcastable, shuffle-sized, or a skew blow-up, answered from
    * two LINEAR SCANS (each sketch is ≤ depth×width integer cells)
    * without paying for the join. Median over the depth rows,
    * matching [[amsF2]]'s estimator discipline; cells absent on
    * either side contribute zero product (inner join on (r, p)),
    * and depth rows with NO overlapping cells at all (small or
    * disjoint key sets) are zero-FILLED against a 0..depth−1 spine
    * before the median — without the fill those rows would vanish
    * from the order statistics, silently misaligning the median (or
    * throwing under ANSI element_at once fewer than depth/2+1 rows
    * survive). Two fully disjoint sketches therefore estimate 0.0,
    * the correct answer, rather than erroring. All-integer inner
    * products — engine-exact. */
  def amsJoinSize(skA: DataFrame, skB: DataFrame,
                  depth: Int = 4): DataFrame = {
    val j = skA.select(col("r"), col("p"), col("cell").as("__ca"))
      .join(skB.select(col("r"), col("p"), col("cell").as("__cb")),
        Seq("r", "p"))
    val rowEst = j.groupBy("r")
      .agg(sum(col("__ca") * col("__cb")).as("ip"))
    rowEst.agg(map_from_entries(
        collect_list(struct(col("r"), col("ip")))).as("m"))
      .select(sort_array(transform(sequence(lit(0), lit(depth - 1)),
        r => coalesce(try_element_at(col("m"), r), lit(0L)))).as("a"))
      .select(((element_at(col("a"), (depth + 1) / 2) +
        element_at(col("a"), depth / 2 + 1)) / lit(2.0)).as("ams_join"))
  }

  // ---------------------------------------------- histogram quantiles

  /** Equi-width histogram of `x` over [lo, hi): bucket = clamped
    * ⌊(x−lo)/w⌋, one (bucket, cnt) row per non-empty bucket. The
    * sketch is at most `nBuckets` rows whatever the input size, built
    * by one map-side-partial aggregate; shards merge by cell-wise sum
    * (the same mergeability as [[cmsBuild]]). Out-of-range values
    * clamp into the edge buckets. */
  def histogram(df: DataFrame, x: Column, lo: Double, hi: Double,
                nBuckets: Int): DataFrame =
    histogramBy(df, lit(0), x, lo, hi, nBuckets).select("bucket", "cnt")

  /** Interpolated quantile columns over a PACKED sketch — `h` is the
    * bucket-ascending array<struct(bucket, cnt)> and `n` the total
    * count: for q, a single higher-order fold finds the FIRST bucket
    * whose cumulative count reaches q·n and interpolates linearly
    * within it. The arithmetic (t − cum_before)/cnt is written
    * exactly as the SQL oracles write it, so identical integer
    * registers give identical doubles. Shared by the global and
    * grouped quantile sketches so the formula lives once. */
  private def packedQuantileCols(h: Column, n: Column, lo: Double,
                                 w: Double, qs: Seq[Double]): Seq[Column] =
    qs.map { q =>
      val t = lit(q) * n.cast("double")
      val init = struct(lit(0L).as("cum"),
        lit(null).cast("double").as("est"))
      val folded = aggregate(h, init, (acc, e) => {
        val newCum = acc.getField("cum") + e.getField("cnt")
        val est = lit(lo) + lit(w) * (e.getField("bucket").cast("double") +
          (t - acc.getField("cum").cast("double")) /
            e.getField("cnt").cast("double"))
        struct(newCum.as("cum"),
          when(acc.getField("est").isNotNull, acc.getField("est"))
            .when(newCum.cast("double") >= t, est)
            .otherwise(lit(null).cast("double")).as("est"))
      })
      round(folded.getField("est"), 5).as(Sketches.quantileLabel(q))
    }

  /** The packed sketch: bucket-ascending array of (bucket, cnt). ≤
    * nBuckets elements by construction, so collect_list partials are
    * registers, not data. */
  private def packedHist: Column =
    sort_array(collect_list(struct(col("bucket"), col("cnt"))))

  /** One-row quantile estimates from the histogram: for each q the
    * first bucket whose cumulative count reaches q·n, linearly
    * interpolated within the bucket — every step deterministic
    * arithmetic on integer counts, so an external engine rebuilds the
    * identical estimates (vs the opaque `percentile_approx`). Also
    * returns n and the Σ bucket·cnt checksum that pins the histogram
    * itself. The ≤ nBuckets-row sketch packs into ONE row (sorted
    * array) and the cumulative pass is a higher-order fold over that
    * array — no window, no sort exchange, never data-sized. */
  def histogramQuantiles(df: DataFrame, x: Column, lo: Double, hi: Double,
                         nBuckets: Int, qs: Seq[Double]): DataFrame = {
    val w = (hi - lo) / nBuckets
    // the global agg always emits one row; an empty input must stay
    // an empty RESULT (the edge-case contract), so drop the empty pack
    val packed = histogram(df, x, lo, hi, nBuckets)
      .agg(packedHist.as("h"))
      .where(size(col("h")) > 0)
    val n = aggregate(col("h"), lit(0L), (acc, e) =>
      acc + e.getField("cnt"))
    val checksum = aggregate(col("h"), lit(0L), (acc, e) =>
      acc + e.getField("bucket") * e.getField("cnt"))
    val withN = packed.select(col("h"), n.as("n"), checksum.as("checksum"))
    withN.select(col("n") +: col("checksum") +:
      packedQuantileCols(col("h"), col("n"), lo, w, qs): _*)
  }

  /** Per-group equi-width histogram: (grp, bucket, cnt). */
  def histogramBy(df: DataFrame, group: Column, x: Column, lo: Double,
                  hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && hi > lo, s"bad histogram spec [$lo,$hi)/$nBuckets")
    val w = (hi - lo) / nBuckets
    // NaN would floor to bucket 0 (a raw Java cast, not null — even
    // under ANSI) and a null x would land in a null-bucket register
    // that sorts FIRST in the packed array: both would silently skew
    // every downstream quantile, so NaN/null measurements are
    // excluded. The exclusion lives INSIDE the native [[HistBucket]]
    // expression (NaN/null → null bucket, registers dropped post-agg
    // over ≤ nBuckets rows) rather than as a row pre-filter: a
    // pushed-down filter predicate re-evaluates `x` per reference in
    // a separate operator from the bucket projection — with an
    // expensive derived x (a classifier score) that tripled the
    // per-row cost (the round-7 q_stats_winsorize 1.7× regression).
    // An Expression child is evaluated exactly once by construction.
    val b = graft.functions.MathExpressions.histBucket(
      x.cast("double"), lo, w, nBuckets)
    // the null-bucket register must drop AFTER the aggregate: a
    // bucket-only predicate gets pushed below the agg and through
    // the projection by Catalyst, re-evaluating the HistBucket
    // kernel in a separate Filter operator — 2x per row with an
    // expensive derived x (the round-7 winsorize regression,
    // re-found by the round-11 PlanAudit). Referencing the
    // aggregated cnt makes the predicate non-pushable (references
    // are not a subset of the grouping keys) while `cnt < 0` is
    // vacuously false on count(1) output, so semantics are
    // unchanged and the filter runs over ≤ nBuckets+1 rows.
    df.select(group.as("grp"), b.as("bucket"))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .where(col("bucket").isNotNull || col("cnt") < 0L)
  }

  /** Per-group interpolated quantiles — [[histogramQuantiles]] with a
    * group axis: one row per group. Each group's ≤ nBuckets sketch
    * rows pack into one sorted array (a register, not data) and the
    * cumulative pass is the same higher-order fold — no window over
    * the sketch table. */
  def histogramQuantilesBy(df: DataFrame, group: Column, x: Column,
                           lo: Double, hi: Double, nBuckets: Int,
                           qs: Seq[Double]): DataFrame = {
    val w = (hi - lo) / nBuckets
    val packed = histogramBy(df, group, x, lo, hi, nBuckets)
      .groupBy("grp").agg(packedHist.as("h"))
    val n = aggregate(col("h"), lit(0L), (acc, e) =>
      acc + e.getField("cnt"))
    val withN = packed.select(col("grp"), col("h"), n.as("n"))
    withN.select(col("grp") +: col("n") +:
      packedQuantileCols(col("h"), col("n"), lo, w, qs): _*)
  }

  /** Grouped DuckDB rendering of the sketch over key expression `key`
    * (a SQL fragment yielding a VARCHAR-castable value): one
    * (grp, hll_estimate, n_seen, sum_rho) row per value of `group` in
    * relation `rel`. Every constant and shape mirrors
    * [[hllCardinalityBy]]. */
  def hllSqlBy(rel: String, group: String, key: String,
               b: Int = 10): String = {
    val m = 1 << b
    val th = TextAnalysis.TokenHashSql(s"($key)::VARCHAR")
    s"SELECT grp, CASE WHEN raw <= 2.5 * $m.0 AND zeros > 0 " +
      s"THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE)) ELSE raw END " +
      "AS hll_estimate, n_seen, sum_rho FROM (" +
      s"SELECT grp, n_seen, sum_rho, ($m - n_seen) AS zeros, " +
      s"(0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0 / " +
      s"(se + CAST($m - n_seen AS DOUBLE)) AS raw FROM (" +
      "SELECT grp, count(*) AS n_seen, CAST(sum(mr) AS BIGINT) AS sum_rho, " +
      "sum(pow(2.0, -CAST(mr AS DOUBLE))) AS se FROM (" +
      s"SELECT grp, bucket, max(rho) AS mr FROM (" +
      s"SELECT grp, th % $m AS bucket, " +
      s"CASE WHEN (th >> $b) = 0 THEN ${61 - b} ELSE " +
      s"CAST(round(ln(CAST((th >> $b) & (0 - (th >> $b)) AS DOUBLE)) " +
      "/ ln(2.0)) AS INT) + 1 END AS rho FROM (" +
      s"SELECT ($group) AS grp, $th AS th FROM $rel)) " +
      "GROUP BY grp, bucket) GROUP BY grp))"
  }

  /** Ungrouped DuckDB rendering: a SELECT producing (hll_estimate,
    * n_seen, sum_rho) from relation `rel` — [[hllSqlBy]] under a
    * constant group, so the formula lives once. */
  def hllSql(rel: String, key: String, b: Int = 10): String =
    s"SELECT hll_estimate, n_seen, sum_rho FROM (${hllSqlBy(rel, "0", key, b)})"

  /** DuckDB rendering of the clamped histogram bucket — the single
    * source of the floor/clamp formula for every quantile oracle
    * (Scala double interpolation renders shortest-round-trip
    * literals, so the SQL constant parses to the identical double
    * Spark computes for (hi−lo)/nBuckets). */
  def BucketSql(x: String, lo: Double, hi: Double, nBuckets: Int): String = {
    val w = (hi - lo) / nBuckets
    s"least(greatest(CAST(floor(($x - $lo) / $w) AS BIGINT), 0), " +
      s"${nBuckets - 1})"
  }

  /** DuckDB rendering of ONE interpolated quantile as an aggregate
    * over a cumulative frame exposing (b, cnt, cum, n): arg_min picks
    * the FIRST qualifying bucket, mirroring [[histogramQuantiles]]'
    * struct-min; same rounding, same term order. */
  def QuantileSql(q: Double, lo: Double, hi: Double,
                  nBuckets: Int): String = {
    val w = (hi - lo) / nBuckets
    s"round(arg_min($lo + $w * (b + ($q * n - (cum - cnt)) / cnt), b) " +
      s"FILTER (WHERE cum >= $q * n), 5)"
  }

  /** Bottom-k distinct-key sketch → pairwise group overlap estimates
    * (Jaccard over each group's distinct `key` set) — the planning
    * sketch you consult before a cross-corpus dedup: for the k
    * smallest keys of A∪B, J ≈ |those present in both A and B| / k.
    * A union-bottom-k key belonging to A is necessarily in A's OWN
    * bottom-k, so per-group k-sized signatures suffice (the bottom-k
    * coordination property); with exact integer keys the estimate is
    * a pure function of the input sets — only its ACCURACY (±~1/√k)
    * is probabilistic, never its value.
    *
    * Returns (ga, gb, n_a, n_b, k_used, n_inter, est_jaccard) for
    * every unordered group pair (ga < gb); n_a/n_b are the exact
    * distinct-key counts (free at the distinct grain this already
    * computes). `key` must be integral (hash strings first).
    *
    * Scale shape: one distinct on the (group, key) grain — the
    * vocabulary computation, shuffled on fixed-width pairs — then ONE
    * O(k)-state [[TopK.topK]] aggregate per group (map-side partial,
    * no sort); all pair math runs on the groups×k signature table,
    * model-sized by definition. */
  /** Shared sketch construction for [[bottomKOverlap]]/[[kmvSetOps]]:
    * distinct (group, hash) grain → per-group O(k)-state bottom-k
    * signature ([[TopK.topK]] on −h; the (score desc, id asc)
    * tie-break on the untruncated long restores exact h order where
    * the double mantissa collides) → unordered group pairs → merged
    * per-pair sketch truncated to the k smallest, ia/ib marking side
    * membership. Returns (distinct grain, merged sketch rows,
    * per-group distinct counts). */
  private def bottomKMerged(df: DataFrame, group: Column, key: Column,
                            k: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val dh = df.select(group.as("__g"), key.cast("long").as("__h"))
      .distinct()
    val cnts = dh.groupBy("__g").agg(count(lit(1)).as("n_h"))
    val bk = dh.groupBy("__g")
      .agg(TopK.topK((-col("__h")).cast("double"), col("__h"), k)
        .as("__tk"))
      .select(col("__g"), explode(col("__tk")).as("__e"))
      .select(col("__g"), col("__e.id").as("__h"))
    val srcs = cnts.select("__g")
    val pairs = srcs.select(col("__g").as("ga"))
      .crossJoin(srcs.select(col("__g").as("gb")))
      .where(col("ga") < col("gb"))
    val pa = pairs.join(bk.withColumnRenamed("__g", "ga"), Seq("ga"))
      .select(col("ga"), col("gb"), col("__h"),
        lit(1).as("ia"), lit(0).as("ib"))
    val pb = pairs.join(bk.withColumnRenamed("__g", "gb"), Seq("gb"))
      .select(col("ga"), col("gb"), col("__h"),
        lit(0).as("ia"), lit(1).as("ib"))
    val u = pa.unionByName(pb).groupBy("ga", "gb", "__h")
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    val w = Window.partitionBy("ga", "gb").orderBy("__h")
    val merged = u.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
    (dh, merged, cnts)
  }

  def bottomKOverlap(df: DataFrame, group: Column, key: Column,
                     k: Int): DataFrame = {
    require(k >= 1)
    val (_, merged, cnts) = bottomKMerged(df, group, key, k)
    merged
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1L)
          .otherwise(0L)).as("n_inter"))
      .join(cnts.select(col("__g").as("ga"), col("n_h").as("n_a")),
        Seq("ga"))
      .join(cnts.select(col("__g").as("gb"), col("n_h").as("n_b")),
        Seq("gb"))
      .select(col("ga"), col("gb"), col("n_a"), col("n_b"),
        col("k_used"), col("n_inter"),
        round(col("n_inter").cast("double") /
          col("k_used").cast("double"), 5).as("est_jaccard"))
  }

  /** Size of the 60-bit token-hash space — the KMV estimator's scale
    * constant (2⁶⁰, exactly representable in a double). */
  val KmvSpace: Double = 1152921504606846976.0

  /** KMV (k-minimum-values) set algebra over group key sets: for
    * every unordered group pair, the UNION cardinality estimate from
    * the k-th order statistic of the merged sketch — |A∪B| ≈
    * (k−1)·2⁶⁰/h_k — and the INTERSECTION estimate est_union·Ĵ
    * (Beyer et al. 2007). When the merged sketch holds the whole
    * union (k_used < k) the sketch IS the union and the estimate is
    * exact by definition. Alongside the estimates: the EXACT
    * intersection/union from a vocab-grain self-join — the truth
    * harness that calibrates k before a production run (the
    * q_dedup_lsh_recall discipline). All sketch arithmetic on exact
    * integer hashes through identical double expressions, so both
    * estimates are bit-exact cross-engine.
    *
    * Scale shape: distinct on the (group, key) grain → ONE
    * O(k)-state [[TopK.topK]] aggregate per group → pair math on the
    * groups×k signature table (model-sized). The exact columns join
    * the vocab grain on fixed-width int keys — the harness's cost,
    * not the estimator's; drop them at corpus scale. */
  def kmvSetOps(df: DataFrame, group: Column, key: Column,
                k: Int): DataFrame = {
    require(k >= 2)
    val (dh, merged, cnts) = bottomKMerged(df, group, key, k)
    val est = merged
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("k_used"),
        max(col("__h")).as("h_k"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1L)
          .otherwise(0L)).as("n_inter_sig"))
    val exact = dh.as("a").join(dh.as("b"),
        col("a.__h") === col("b.__h") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("ga"), col("b.__g").as("gb"))
      .agg(count(lit(1)).as("exact_inter"))
    val estU = when(col("k_used") < k, col("k_used").cast("double"))
      .otherwise((col("k_used") - 1).cast("double") * lit(KmvSpace)
        / col("h_k").cast("double"))
    est
      .join(cnts.select(col("__g").as("ga"), col("n_h").as("n_a")),
        Seq("ga"))
      .join(cnts.select(col("__g").as("gb"), col("n_h").as("n_b")),
        Seq("gb"))
      .join(exact, Seq("ga", "gb"), "left")
      .select(col("ga"), col("gb"), col("n_a"), col("n_b"),
        col("k_used"), col("n_inter_sig"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        (col("n_a") + col("n_b")
          - coalesce(col("exact_inter"), lit(0L))).as("exact_union"),
        round(estU, 5).as("est_union"),
        round(estU * col("n_inter_sig").cast("double")
          / col("k_used").cast("double"), 5).as("est_inter"))
  }
}
