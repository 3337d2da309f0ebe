package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - [[cosineTop1]]: exact brute-force — broadcast nested-loop
  *    product with codegen'd `zip_with`/`aggregate` dot products. The
  *    CORRECTNESS baseline; O(n²·d), usable when one side is small
  *    enough to broadcast (queries vs corpus, or corpus blocks).
  *  - [[lshBuckets]] / [[annTop1]]: random-hyperplane LSH — the SCALE
  *    path. Each vector gets a `nBits`-bit bucket from sign(v·h)
  *    (bucket space sized to the corpus via [[nBitsFor]], recall
  *    amplified across independent tables via [[lshTableBuckets]],
  *    skew spread via salting); the self-join is restricted to bucket
  *    collisions, turning O(n²) into O(Σ bucket²). Hyperplanes are
  *    generated by a deterministic two-round integer mix
  *    ([[hyperplane]]) so the whole pipeline is replayable AND
  *    cross-engine verifiable (no RNG state to ship).
  */
object Similarity {

  /** Elementwise double view of a float-array embedding column. */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** Dot product — a native codegen'd expression ([[VecDot]]): one
    * primitive loop inside whole-stage codegen instead of the
    * interpreted `zip_with`+`aggregate` lambda machinery (identical
    * forward-order summation; [[dotSpec]] is the executable
    * specification the equivalence test pins it to). */
  def dot(a: Column, b: Column): Column = VecExpressions.dot(a, b)

  /** The composable higher-order-function form of [[dot]] — kept as
    * the executable spec for cross-checking the codegen'd kernel. */
  def dotSpec(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine with degenerate inputs mapped to NULL: under Spark 4's
    * default ANSI mode a zero-norm embedding makes the raw [[cosine]]
    * division THROW (DIVIDE_BY_ZERO) — one all-zeros vector kills the
    * whole job — and with ANSI off it yields NaN, which Spark orders
    * ABOVE every real number, so it would win any max-aggregate and
    * pass any `>=` threshold. The guard skips the division entirely
    * (when short-circuits in codegen) and also nulls NaN-element
    * vectors, so every consumer sees NULL — ignored by max, false in
    * comparisons, skipped by [[TopKAgg]] — the semantics a similarity
    * op wants for a vector that HAS no direction. */
  def cosineOrNull(a: Column, b: Column): Column =
    VecExpressions.cosineOrNull(a, b)

  /** The composed three-kernel form of [[cosineOrNull]] — kept as the
    * executable specification the fused one-pass kernel is
    * equivalence-pinned to (SimilaritySpec); value-identical because
    * each of the three sums accumulates independently in forward
    * element order in both forms. */
  def cosineOrNullSpec(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0 && !isnan(d), dot(a, b) / d)
      .otherwise(lit(null).cast("double"))
  }

  /** Exact top-1 neighbor (highest cosine, excluding self) for every
    * vector, via broadcast cross product + max-aggregate. */
  def cosineTop1(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"))
      .agg(max(cosineOrNull(col("emb_a"), col("emb_b"))).as("top1_cos"))
  }

  /** Hyperplane-generator constants (minstd-style two-round integer
    * mix): shared verbatim by [[hyperplane]] (Column form) and
    * [[hyperplaneSql]] (DuckDB form) so both engines compute
    * bit-identical buckets. All intermediates stay < 2^62 (DuckDB int64
    * arithmetic THROWS on overflow). */
  val HpMod: Long = 2147483647L
  val HpMult: Long = 48271L
  val HpDimMix: Long = 2654435761L
  val HpBitMix: Long = 40503L

  /** Deterministic pseudo-random hyperplane component h(bit, dim) ∈
    * [−1, 1): seed = (dim+1)·DimMix + (bit+1)·BitMix mod M, then one
    * minstd multiplication — ~2³⁰ distinct levels and decorrelated
    * across both bit and dim (the previous mod-97 recurrence had 97
    * levels and visible correlation between adjacent hyperplanes,
    * which costs recall at depth). `dim` is 0-based. */
  def hyperplane(bit: Int, dim: Column): Column = {
    val seed = ((dim + lit(1L)) * lit(HpDimMix) +
      lit((bit + 1).toLong * HpBitMix)) % lit(HpMod)
    ((seed * lit(HpMult)) % lit(HpMod)).cast("double") /
      lit((HpMod / 2).toDouble) - lit(1.0)
  }

  /** Same formula as SQL over a 1-based index expression `idx`
    * (DuckDB list comprehensions index from 1, so idx == dim+1). */
  def hyperplaneSql(bit: Int, idx: String): String =
    s"(((($idx) * $HpDimMix + ${(bit + 1).toLong * HpBitMix}) % $HpMod) " +
      s"* $HpMult % $HpMod) / ${(HpMod / 2).toDouble} - 1.0"

  /** Deterministic ±1 sign-projection matrix [k, dim] (Achlioptas
    * 2003, "Database-friendly random projections"; Johnson–
    * Lindenstrauss): entry (j,i) is the low bit of a splitmix64 mix
    * of (seed, j·dim+i). With y = Sx, E[‖y‖²/k] = ‖x‖² — the
    * distance-preserving dimensionality reduction that shrinks
    * shuffle width for downstream ANN/near-dup work (a 64→16
    * projection moves 4× less data through every exchange). The
    * matrix is a pure function of (seed, dim, k): any engine — and
    * the DuckDB oracle — rebuilds or inlines the identical
    * literals. */
  def signProjection(dim: Int, k: Int,
                     seed: Long = 77L): Array[Array[Double]] = {
    require(dim > 0 && k > 0, s"bad projection $dim -> $k")
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(k, dim)((j, i) =>
      if ((mix64(seed * 0x632be59bd9b4e019L + j.toLong * dim + i) & 1L) == 0L)
        1.0 else -1.0)
  }

  /** Projected vector y = Sx (array<double>, length k) — ONE codegen'd
    * [[VecExpressions.matVec]] pass per row, matrix as a plan
    * constant; forward-order per-output accumulation matches a DuckDB
    * nested list comprehension bit for bit. Divide ‖y‖² by k for the
    * JL norm estimate. */
  def jlProject(emb: Column, m: Array[Array[Double]]): Column =
    VecExpressions.matVec(emb, m.flatten.toSeq, m.head.length)

  /** Smallest nBits giving expected bucket size ≤ `targetBucket` under
    * a uniform spread: buckets MUST scale with corpus size (a fixed
    * 2⁸-bucket space at n=10⁹ means ~4M-row buckets and ~10¹³
    * within-bucket pairs). Capped at 62 bits (bucket id is a long). */
  def nBitsFor(n: Long, targetBucket: Long = 1024L): Int = {
    require(targetBucket > 0)
    var bits = 1
    while (bits < 62 && (n >> bits) > targetBucket) bits += 1
    bits
  }

  /** LSH bucket id: Σ 2^bit · [v·h_bit > 0]. One scan, no shuffle.
    * `bitOffset` selects an independent hyperplane set (table t uses
    * offset t·nBits), enabling multi-table OR-amplification.
    * Codegen'd single-pass kernel ([[LshBucketExpr]]): all nBits
    * hyperplane dots accumulate in one loop over the vector;
    * [[lshBucketSpec]] is the composable spec it is pinned to. */
  def lshBucket(emb: Column, nBits: Int = 8, bitOffset: Int = 0): Column =
    VecExpressions.lshBucket(emb, nBits, bitOffset)

  /** Composable higher-order-function form of [[lshBucket]] (the
    * executable spec; one `aggregate` pass per bit). */
  def lshBucketSpec(emb: Column, nBits: Int = 8,
                    bitOffset: Int = 0): Column = {
    val d = asDouble(emb)
    val bits = (0 until nBits).map { b =>
      val dotH = aggregate(
        zip_with(d, sequence(lit(0L), (size(d) - 1).cast("long")),
          (x, i) => x * hyperplane(bitOffset + b, i)),
        lit(0.0), (acc, v) => acc + v)
      // !isnan: the kernel's primitive `> 0` is false for NaN, while
      // Spark's nan-safe comparison would rank NaN above 0 — the spec
      // must mirror the kernel bit for bit (null in → null out, too)
      when(dotH > 0 && !isnan(dotH), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(emb.isNull, lit(null).cast("long")).otherwise(bits)
  }

  /** One row per (row, table) with that table's bucket — `tables`
    * independent hyperplane sets. A true neighbor pair is a candidate
    * if it collides in ANY table: collision probability rises from
    * p^nBits to 1 − (1 − p^nBits)^tables (the standard LSH
    * amplification), which is what makes single-probe recall usable.
    * Still one scan; the explode multiplies rows by `tables` (a small
    * constant), not by data size. */
  def lshTableBuckets(df: DataFrame, embCol: String,
                      nBits: Int, tables: Int): DataFrame = {
    // null embeddings filtered up front (they can never land in a
    // bucket) and the kernel input marked KnownNotNull: a nullable
    // bucket serving as a join key makes InferFiltersFromConstraints
    // push IsNotNull(lsh_bucket(emb)) below this projection and
    // re-run the kernel in a Filter — 2x per row (PlanAudit r11)
    val emb = PlanHints.knownNotNull(col(embCol))
    val tb = array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(emb, nBits, t * nBits).as("bucket"))
    }: _*)
    df.where(col(embCol).isNotNull)
      .withColumn("__tb", explode(tb))
      .withColumn("tbl", col("__tb.tbl"))
      .withColumn("bucket", col("__tb.bucket"))
      .drop("__tb")
  }

  /** CONTRACT: rows with a null embedding are DROPPED (they can
    * never land in a bucket) — output row count < input row count
    * when nulls exist; consumers aggregating "all input rows" must
    * count upstream of this call. */
  def lshBuckets(df: DataFrame, idCol: String, embCol: String,
                 nBits: Int = 8): DataFrame =
    // null-filter + KnownNotNull: see lshTableBuckets
    df.where(col(embCol).isNotNull)
      .withColumn("bucket",
        lshBucket(PlanHints.knownNotNull(col(embCol)), nBits))

  /** Approximate top-1: exact cosine but only within LSH buckets.
    *
    * `salt > 1` splits each bucket's probe side into `salt` shards and
    * replicates the build side across them — identical results (every
    * pair still meets exactly once), but a hot bucket's work spreads
    * over `salt` tasks instead of one. This is the skew fix for
    * top-k-style ops where within-bucket work is inherent (unlike pair
    * EMISSION, where a size cap bounds the output itself — see
    * [[Dedup.minhashCandidates]]). */
  def annTop1(df: DataFrame, idCol: String, embCol: String,
              nBits: Int = 8, salt: Int = 1, tables: Int = 1): DataFrame = {
    val withB =
      if (tables <= 1) lshBuckets(df, idCol, embCol, nBits)
        .withColumn("tbl", lit(0))
      else lshTableBuckets(df, embCol, nBits, tables)
    val (a, b, keys) =
      if (salt <= 1)
        (withB.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
          col("tbl"), col("bucket")),
          withB.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
            col("tbl"), col("bucket")),
          Seq("tbl", "bucket"))
      else
        (withB.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
          col("tbl"), col("bucket"),
          pmod(abs(hash(col(idCol))), lit(salt)).as("__salt")),
          withB.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
            col("tbl"), col("bucket"),
            explode(sequence(lit(0), lit(salt - 1))).as("__salt")),
          Seq("tbl", "bucket", "__salt"))
    a.join(b, keys)
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"))
      .agg(max(cosineOrNull(col("emb_a"), col("emb_b"))).as("ann_top1_cos"))
  }

  /** Exact top-k neighbors (highest cosine, excluding self) per
    * vector — brute-force correctness baseline. Top-k state is the
    * bounded [[TopKAgg]] imperative aggregate: O(k) per group,
    * map-side partial — NOT `collect_list`+sort (whole group in the
    * buffer) and NOT a rank Window (whole group on one task). */
  def cosineTopK(df: DataFrame, idCol: String, embCol: String,
                 k: Int): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.crossJoin(broadcast(b))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"))
      .agg(TopK.topK(cosineOrNull(col("emb_a"), col("emb_b")),
        col("id_b").cast("long"), k).as("topk"))
  }

  /** Approximate top-k: the same bounded aggregate over LSH bucket
    * collisions (single table — multi-table union would need pair
    * dedup before the aggregate to avoid double-occupying slots). */
  def annTopK(df: DataFrame, idCol: String, embCol: String, k: Int,
              nBits: Int = 8): DataFrame = {
    val withB = lshBuckets(df, idCol, embCol, nBits)
    val a = withB.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
      col("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
      col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"))
      .agg(TopK.topK(cosineOrNull(col("emb_a"), col("emb_b")),
        col("id_b").cast("long"), k).as("topk"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein
    * 1998): greedily pick k items maximizing
    * λ·rel(i) − (1−λ)·max_{s∈S} cos(i, s) — the diversity-aware
    * top-k that builds probe/eval sets COVERING a corpus instead of
    * clustering at its mode. rel is cosine to the min-id row (a
    * deterministic probe; swap in any query vector). Each of the k
    * rounds is ONE distributed scan: the probe and the ≤k selected
    * rows ride as broadcast frames, the argmax is a single
    * max(struct) aggregate (no window, no sort), and only k rows ever
    * reach the driver — the [[collectCentroids]] doctrine. Ties break
    * to the lowest id so the selected set is a pure function of the
    * input. Pass λ and 1−λ as SEPARATE literals (the 1−λ
    * reconstruction is the documented IEEE hazard).
    *
    * Returns (rank, id, score) with rank 0 = the probe itself
    * (rel = 1.0 by construction). */
  def mmrSelect(df: DataFrame, idCol: String, embCol: String, k: Int,
                lam: Double, oneMinusLam: Double)
      : Seq[(Int, Long, Double)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val probe = df.orderBy(col(idCol)).limit(1)
      .select(col(embCol).as("p_emb"))
    val base = df.crossJoin(broadcast(probe))
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        cosineOrNull(col(embCol), col("p_emb")).as("rel"))
    var out = List.empty[(Int, Long, Double, Seq[Float])]
    var i = 0
    var exhausted = false
    while (i < k && !exhausted) {
      val cand =
        if (out.isEmpty) base
        else base.where(!col("id").isInCollection(out.map(_._2)))
      val scored =
        if (out.isEmpty)
          cand.select(col("id"), col("emb"), col("rel").as("score"))
        else {
          val selDf = broadcast(out.map(_._4).toDF("s_emb"))
          cand.crossJoin(selDf)
            .groupBy(col("id"))
            .agg(first(col("emb")).as("emb"),
              first(col("rel")).as("rel"),
              max(cosineOrNull(col("emb"), col("s_emb"))).as("ms"))
            .select(col("id"), col("emb"),
              (lit(lam) * col("rel") - lit(oneMinusLam) * col("ms"))
                .as("score"))
        }
      val row = scored
        .agg(max(struct(col("score"), (-col("id")).as("negid"),
          col("emb").as("emb"))).as("b"))
        .select(col("b.score"), (-col("b.negid")).as("id"),
          col("b.emb").as("emb"))
        .head()
      if (row.isNullAt(0)) exhausted = true
      else {
        out = out :+ ((i, row.getLong(1), row.getDouble(0),
          row.getSeq[Float](2)))
        i += 1
      }
    }
    out.map(t => (t._1, t._2, t._3))
  }

  /** Hard-negative mining for contrastive training (the "hardest
    * wrong answers" batch-construction stage): per anchor, the top-k
    * most-similar vectors with a DIFFERENT label, from LSH bucket
    * collisions — the same bounded pair generation and O(k)
    * [[TopK]] aggregate as [[annTopK]], with the label-mismatch
    * predicate applied IN the bucket join so same-label pairs never
    * reach the aggregate. Returns (id_a, label_a, topk). */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
                    labelCol: String, k: Int, nBits: Int = 8): DataFrame = {
    val withB = lshBuckets(df, idCol, embCol, nBits)
    val a = withB.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
      col(labelCol).as("label_a"), col("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
      col(labelCol).as("label_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") =!= col("id_b") &&
        col("label_a") =!= col("label_b"))
      .groupBy(col("id_a"), col("label_a"))
      .agg(TopK.topK(cosineOrNull(col("emb_a"), col("emb_b")),
        col("id_b").cast("long"), k).as("topk"))
  }

  /** Approximate mutual-kNN graph — the shared substrate of
    * graph-based curation (SemDeDup-style cluster pruning, kNN-graph
    * connected components, hub/outlier detection): directed edges
    * (src, dst, cos, rank) from [[annTopK]]'s bounded per-node top-k
    * over LSH bucket collisions, plus a `mutual` flag (both directions
    * present — the symmetrization graph methods actually use).
    *
    * Scale shape: neighbor lists are the O(k)-state [[TopKAgg]] over
    * the bucket join (never a rank Window); the edge list is k·n
    * narrow rows; symmetrization is ONE self-join on the (src, dst)
    * key — no embedding ever shuffles twice. Determinism: [[TopKAgg]]
    * orders (cos desc, id asc), so the edge SET is a pure function of
    * the input and an external engine rebuilds it exactly. */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               nBits: Int = 8): DataFrame = {
    val edges = annTopK(df, idCol, embCol, k, nBits)
      .select(col("id_a").as("src"),
        posexplode(col("topk")).as(Seq("rank", "e")))
      .select(col("src"), col("e.id").as("dst"),
        col("e.score").as("cos"), (col("rank") + 1).cast("long").as("rank"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("__r"))
    edges.join(rev, Seq("src", "dst"), "left")
      .withColumn("mutual", col("__r").isNotNull)
      .drop("__r")
  }

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019,
    * the LASER/CCMatrix recipe): for each side-0 vector x, its best
    * cross-side neighbor y scored by the RATIO margin
    * cos(x,y) / ((avgK(x) + avgK(y)) / 2), where avgK(v) is the mean
    * cosine of v's k nearest CROSS-side neighbors — the hubness
    * correction that plain cosine thresholds lack (a hub scores high
    * against everything, so its margin ≈ 1 and it is NOT mined).
    *
    * Scale shape: candidates come from the shared LSH bucket join
    * (never all-pairs), both per-side neighborhood averages are
    * bounded O(k)-state [[TopK.topK]] aggregates over the same
    * candidate grain, and the best-pair pick is the k=1 TopK — no
    * window over the data grain, no driver round-trip. Determinism:
    * TopK's (score desc, id asc) order fixes the best pair and the
    * exact fold order of the k-neighbor sums, so margins are
    * bit-exact cross-engine.
    *
    * Returns (id_a, id_b, cos, avg_a, avg_b, margin) — one row per
    * side-0 vector with at least one cross-side candidate in its
    * bucket. `sideCol` must be 0 (mine FROM) / 1 (mine INTO). */
  def bitextMine(df: DataFrame, idCol: String, embCol: String,
                 sideCol: String, k: Int, nBits: Int = 8): DataFrame = {
    require(k >= 1)
    val withB = lshBuckets(df, idCol, embCol, nBits)
    val l = withB.where(col(sideCol) === 0)
      .select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
        col("bucket"))
    val r = withB.where(col(sideCol) === 1)
      .select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
        col("bucket"))
    val pairs = l.join(r, Seq("bucket"))
      .select(col("id_a"), col("id_b"),
        cosineOrNull(col("emb_a"), col("emb_b")).as("cos"))
    def tkAvg(tk: Column): Column =
      aggregate(transform(tk, x => x.getField("score")), lit(0.0),
        (a, v) => a + v) / size(tk).cast("double")
    val avgA = pairs.groupBy("id_a")
      .agg(TopK.topK(col("cos"), col("id_b").cast("long"), k).as("tk"))
      .select(col("id_a"), tkAvg(col("tk")).as("avg_a"))
    val avgB = pairs.groupBy("id_b")
      .agg(TopK.topK(col("cos"), col("id_a").cast("long"), k).as("tk"))
      .select(col("id_b"), tkAvg(col("tk")).as("avg_b"))
    val best = pairs.groupBy("id_a")
      .agg(TopK.topK(col("cos"), col("id_b").cast("long"), 1).as("b1"))
      .select(col("id_a"),
        element_at(col("b1"), 1).getField("id").as("id_b"),
        element_at(col("b1"), 1).getField("score").as("cos"))
    best.join(avgA, "id_a").join(avgB, "id_b")
      .select(col("id_a"), col("id_b"), col("cos"), col("avg_a"),
        col("avg_b"),
        (col("cos") / ((col("avg_a") + col("avg_b")) / lit(2.0)))
          .as("margin"))
  }

  def l2sq(a: Column, b: Column): Column = VecExpressions.l2sq(a, b)

  /** IVF coarse-quantizer assignment: nearest centroid by squared L2,
    * ties broken to the smallest centroid id (the lexicographic
    * `array_min` over (dist, cid) structs — deterministic on any
    * engine). `centroids` is model-sized BY DEFINITION (k rows of
    * (`cid`, `cemb`)), so it is collected once and inlined as
    * literals: assignment is then ONE data scan with no join and no
    * shuffle — the plan shape that scales linearly to 100 TB. The
    * deterministic centroid pick used by the oracle query is a
    * stand-in for any trained coarse quantizer (e.g. MLlib KMeans
    * centers) — the operator takes whatever centroid table it is
    * given. */
  /** Collect the (model-sized BY DEFINITION) centroid table ONCE; all
    * IVF builders below take the collected array so a composed pipeline
    * (assignment + stats + probe) pays exactly one driver collect. */
  def collectCentroids(centroids: DataFrame): Array[(Long, Seq[Double])] =
    centroids.select(col("cid").cast("long"), col("cemb"))
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case o => throw new IllegalArgumentException(s"bad element $o")
        })
      }

  /** (dist, cid) struct of the nearest centroid — ONE codegen'd
    * kernel ([[NearestCentroidExpr]]) instead of k separate
    * `vec_l2sq` expressions fed to `array_min`: the k-expression form
    * made Janino codegen time grow with k and dominated cold-start of
    * every IVF/k-means query. [[nearestCentroidSpec]] is the
    * composable form it is equivalence-tested against. */
  def nearestCentroid(emb: Column,
                      cents: Array[(Long, Seq[Double])]): Column =
    VecExpressions.nearestCentroid(emb, cents.toSeq)

  /** Composable `array_min`-over-structs spec of [[nearestCentroid]]. */
  def nearestCentroidSpec(emb: Column,
                          cents: Array[(Long, Seq[Double])]): Column =
    array_min(array(cents.toSeq.map { case (cid, v) =>
      struct(VecExpressions.l2sq(emb, typedLit(v)).as("d"),
        lit(cid).as("c"))
    }: _*))

  /** Data rows + their `cell` column (embedding retained, so no
    * join-back is ever needed). */
  private def withCells(df: DataFrame, idCol: String, embCol: String,
                        cents: Array[(Long, Seq[Double])]): DataFrame =
    // null-filter + KnownNotNull: a nullable cell used as a join key
    // gets an inferred IsNotNull pushed below this projection, which
    // re-runs the k-distance kernel in a Filter (PlanAudit r11)
    df.select(col(idCol), col(embCol))
      .where(col(embCol).isNotNull)
      .withColumn("cell",
        nearestCentroid(PlanHints.knownNotNull(col(embCol)), cents)
          .getField("c"))

  /** One-scan cell assignment (id, embedding, cell) from pre-collected
    * centroids — build this ONCE and reuse the DataFrame for stats,
    * probing, and joins. CONTRACT: null-embedding rows are DROPPED
    * (no cell exists for them); row-count consumers (e.g. per-cell
    * counts) must count upstream if nulls are possible. */
  def cellAssignments(df: DataFrame, idCol: String, embCol: String,
                      cents: Array[(Long, Seq[Double])]): DataFrame =
    withCells(df, idCol, embCol, cents)

  def assignCells(df: DataFrame, idCol: String, embCol: String,
                  centroids: DataFrame): DataFrame =
    withCells(df, idCol, embCol, collectCentroids(centroids))
      .select(col(idCol), col("cell"))

  /** (id, embedding, cell, dist) — assignment plus the squared L2 to
    * the winning centroid (the inertia contribution). */
  def cellAssignmentsWithDist(df: DataFrame, idCol: String, embCol: String,
      cents: Array[(Long, Seq[Double])]): DataFrame =
    df.select(col(idCol), col(embCol))
      .where(col(embCol).isNotNull)
      .withColumn("__best",
        nearestCentroid(PlanHints.knownNotNull(col(embCol)), cents))
      .withColumn("cell", col("__best.c"))
      .withColumn("dist", col("__best.d"))
      .drop("__best")

  /** Fixed-point scale for exact (order-independent) centroid sums:
    * float32 inputs × 2²⁴ are integers whose int64 sums are exact, so
    * the recomputed centroids are BIT-IDENTICAL regardless of
    * partitioning or engine — the property that lets an iterative
    * quantizer train distributed AND verify against a serial oracle.
    * Headroom: |v|·2²⁴ ≲ 2³⁰ per element leaves room for ~2³² rows. */
  val KmeansFxScale: Double = 16777216.0

  /** Lloyd's iterations — coarse-quantizer TRAINING at the 100 TB
    * shape: each round is (1) one scan assigning cells against literal
    * centroids (no join, no shuffle) and (2) ONE hash aggregate of d
    * per-dimension fixed-point sums + a count per cell (map-side
    * partial, k·d driver result). Cells that lose all members are
    * dropped. Returns the trained centroids. */
  def kmeansIterate(df: DataFrame, idCol: String, embCol: String,
      cents: Array[(Long, Seq[Double])],
      iters: Int): Array[(Long, Seq[Double])] = {
    require(cents.nonEmpty)
    val dim = cents.head._2.length
    var cur = cents
    var it = 0
    while (it < iters) {
      val cells = withCells(df, idCol, embCol, cur)
      val aggs = count(lit(1)).as("n") +: (0 until dim).map(i =>
        sum(round(element_at(col(embCol), i + 1).cast("double") *
          lit(KmeansFxScale)).cast("long")).as(s"s$i"))
      val rows = cells.groupBy("cell").agg(aggs.head, aggs.tail: _*)
        .collect()
      cur = rows.map { r =>
        val cid = r.getLong(0)
        val n = r.getLong(1)
        (cid, (0 until dim).map(i =>
          r.getLong(2 + i).toDouble / KmeansFxScale / n.toDouble): Seq[Double])
      }.sortBy(_._1)
      it += 1
    }
    cur
  }

  /** Deterministic farthest-first (Gonzalez) centroid seeding — the
    * reproducible stand-in for kmeans++ D²-sampling: start from the
    * minimum-id vector, then k−1 times pick the point farthest from
    * its nearest chosen centroid (ties to the smaller id). A
    * 2-approximation to the k-center objective, and a far better
    * Lloyd's warm start than "first k rows" when the leading rows
    * cluster together.
    *
    * Scale shape: each round is ONE scan against literal centroids
    * (the [[nearestCentroid]] kernel) + ONE max-aggregate returning a
    * single (dist, id) row; the winner's vector is fetched by id.
    * k rounds of two tiny actions — the same rounds-of-aggregates
    * shape as [[kmeansIterate]], nothing data-sized on the driver. */
  def kmeansFarthestInit(df: DataFrame, idCol: String, embCol: String,
                         k: Int): Array[(Long, Seq[Double])] =
    farthestFirst(df, idCol, embCol, k).zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }

  /** Farthest-first selection keeping ORIGINAL ids — the k-center
    * greedy coreset (Sener & Savarese 2018, "Active Learning for
    * CNNs: A Core-Set Approach"): the k selected rows 2-approximate
    * the minimax-radius cover of the corpus, the standard
    * diversity-pruning / exemplar-selection step over an embedded
    * dataset. Same per-round shape as the seeding wrapper above: one
    * literal-centroid kernel scan + one single-row max-aggregate. */
  def farthestFirst(df: DataFrame, idCol: String, embCol: String,
                    k: Int): Array[(Long, Seq[Double])] = {
    require(k >= 1, s"bad k $k")
    // once every point is chosen the farthest distance is 0 and the
    // argmax would silently re-pick the same point — duplicate
    // centroids downstream; demand the data can seed k distinct cells
    require(df.limit(k).count() == k,
      s"need at least $k rows to seed $k centroids")
    def vecOf(id: Long): Seq[Double] =
      df.where(col(idCol) === id).select(col(embCol)).head()
        .getSeq[Any](0).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case o => throw new IllegalArgumentException(s"bad element $o")
        }
    val first = df.agg(min(col(idCol).cast("long"))).head().getLong(0)
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])](
      (first, vecOf(first)))
    while (chosen.size < k) {
      val best = df.select(col(idCol).cast("long").as("id"),
          nearestCentroid(col(embCol), chosen.toArray).getField("d").as("d"))
        .agg(max(struct(col("d"), (-col("id")).as("nid")))).head()
        .getStruct(0)
      val id = -best.getLong(1)
      // a chosen point has distance 0 and can never be the argmax —
      // unless idCol is not unique (two rows, one id, different
      // vectors): vecOf would then silently return the wrong vector
      // forever. Fail fast instead of looping on the collision.
      require(!chosen.exists(_._1 == id),
        s"farthestFirst re-selected id $id — $idCol is not unique")
      chosen += ((id, vecOf(id)))
    }
    chosen.toArray
  }

  /** Query-side multi-probe expansion: one row per (vector, probed
    * cell) for its `probes` nearest centroids — the standard IVF
    * recall knob. Same literal-centroid single-scan shape as
    * [[assignCells]] (`array_sort` on (dist, cid) structs, slice). */
  private def withProbes(df: DataFrame, idCol: String, embCol: String,
                         cents: Array[(Long, Seq[Double])],
                         probes: Int): DataFrame =
    // ONE kernel pass ([[NearestCellsExpr]]: bounded P-slot insertion
    // over all centroids) — the per-centroid struct + array_sort form
    // regenerated k separate vec_l2sq expressions, exactly the
    // Janino-codegen-grows-with-k shape [[nearestCentroid]] was
    // introduced to kill; [[withProbesSpec]] is the composable form
    // it is equivalence-tested against
    df.select(col(idCol), col(embCol),
      explode(VecExpressions.nearestCells(col(embCol), cents.toSeq,
        probes)).as("cell"))

  /** Test hook for the private probe-cell selection. */
  private[ops] def probeCellsForTest(df: DataFrame, idCol: String,
                                     embCol: String,
                                     cents: Array[(Long, Seq[Double])],
                                     probes: Int): DataFrame =
    withProbes(df, idCol, embCol, cents, probes)

  /** Composable array_sort spec of [[withProbes]]'s cell selection. */
  private[ops] def withProbesSpec(df: DataFrame, idCol: String,
                                  embCol: String,
                                  cents: Array[(Long, Seq[Double])],
                                  probes: Int): DataFrame = {
    val candidates = cents.map { case (cid, v) =>
      struct(VecExpressions.l2sq(col(embCol), typedLit(v)).as("d"),
        lit(cid).as("c"))
    }
    df.select(col(idCol), col(embCol))
      .withColumn("probe_cells", transform(
        slice(array_sort(array(candidates.toSeq: _*)), 1, probes),
        s => s.getField("c")))
      .select(col(idCol), col(embCol),
        explode(col("probe_cells")).as("cell"))
  }

  /** IVF top-1: each query probes its `probes` nearest cells (1 = own
    * cell only) against corpus vectors indexed in their own cell —
    * O(probes · Σ cell²) instead of O(n²). Recall is monotone in
    * `probes`; vectors whose probed cells hold no other vector have no
    * row. */
  def ivfTop1(df: DataFrame, idCol: String, embCol: String,
              centroids: DataFrame, probes: Int = 1): DataFrame = {
    val cents = collectCentroids(centroids)
    val cells = withCells(df, idCol, embCol, cents)
    val a =
      (if (probes <= 1) cells
       else withProbes(df, idCol, embCol, cents, probes))
        .select(col(idCol).as("id_a"), col(embCol).as("emb_a"), col("cell"))
    ivfTop1Join(a, cells, idCol, embCol)
  }

  /** Probe-side rows (id_a, emb_a, cell) against an existing cell
    * assignment — the composable piece when [[cellAssignments]] is
    * already built (avoids re-collecting centroids / re-assigning). */
  def ivfTop1From(cells: DataFrame, idCol: String,
                  embCol: String): DataFrame =
    ivfTop1Join(
      cells.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
        col("cell")),
      cells, idCol, embCol)

  private def ivfTop1Join(a: DataFrame, cells: DataFrame, idCol: String,
                          embCol: String): DataFrame = {
    val b = cells
      .select(col(idCol).as("id_b"), col(embCol).as("emb_b"), col("cell"))
    a.join(b, Seq("cell"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"))
      .agg(max(cosineOrNull(col("emb_a"), col("emb_b"))).as("ivf_top1_cos"))
  }

  /** Persist an IVF index as an at-rest LAYOUT: vectors written
    * cell-partitioned (`partitionBy("cell")`) plus the centroid table
    * — the "build once, query many" shape. A probe then reads ONLY
    * its cells' directories via partition pruning: at 10⁹+ vectors a
    * top-k query touches probes/k-th of the corpus files, no index
    * server involved. */
  def writeIvfIndex(df: DataFrame, idCol: String, embCol: String,
                    cents: Array[(Long, Seq[Double])],
                    path: String): Unit = {
    cellAssignments(df, idCol, embCol, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/vectors")
    val spark = df.sparkSession
    import spark.implicits._
    cents.toSeq.toDF("cid", "cemb")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Centroids of a persisted index. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[(Long, Seq[Double])] =
    collectCentroids(spark.read.parquet(s"$path/centroids"))

  /** Top-k cosine neighbors of ONE query vector against a persisted
    * index: the probe cells are picked driver-side against the
    * (model-sized) centroid table, the scan prunes to those cell
    * partitions (`cell IN (...)` is a partition filter — file listing
    * never touches other cells), and ranking is TakeOrdered. Returns
    * (id, cos) descending. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, q: Seq[Double], probes: Int, k: Int,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    require(probes > 0 && k > 0)
    val cents = loadIvfCentroids(spark, path)
    // zip would silently truncate a mismatched query to the shared
    // prefix and return wrong cells/cosines — fail instead
    require(cents.forall(_._2.length == q.length),
      s"query dim ${q.length} != index dim ${cents.head._2.length}")
    val probeCells = cents.map { case (cid, v) =>
      val d = v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, cid)
    }.sorted.take(probes).map(_._2)
    val qLit = typedLit(q)
    spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col(idCol).as("id"),
        cosine(asDouble(col(embCol)), qLit).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥
    * threshold, bucketed by LSH first at scale.
    *
    * `nBits` sizes the bucket space (use [[nBitsFor]] against corpus
    * size); `maxBucket > 0` drops buckets above that size from pair
    * emission — a bucket that dense IS a duplicate cluster, and its
    * B²/2 pairs are both a single-task hotspot and an output blowup;
    * treat oversize buckets as groups (keep one representative per
    * bucket) instead of enumerating their pairs. */
  def cosineNearDups(df: DataFrame, idCol: String, embCol: String,
                     threshold: Double, exact: Boolean = true,
                     nBits: Int = 8, maxBucket: Int = 0): DataFrame =
    if (exact) {
      val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
      val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
      a.crossJoin(broadcast(b))
        .where(col("id_a") < col("id_b"))
        .withColumn("cos", cosineOrNull(col("emb_a"), col("emb_b")))
        .where(col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    } else cosineNearDupsAndOversize(df, idCol, embCol, threshold,
      nBits, maxBucket)._1

  /** Bucketed near-dup pairs AND the diverted-bucket stats from ONE
    * bucket lineage — use this when both are needed (the pipeline
    * shape) instead of re-bucketing separately. The bucket-size
    * aggregate is map-side partial and joins back on the key the
    * self-join already shuffles on. */
  def cosineNearDupsAndOversize(df: DataFrame, idCol: String,
      embCol: String, threshold: Double, nBits: Int = 8,
      maxBucket: Int = 0): (DataFrame, DataFrame) =
    cosineNearDupsFromBuckets(lshBuckets(df, idCol, embCol, nBits),
      idCol, embCol, threshold, maxBucket)

  /** As above over a PRE-BUCKETED (possibly cached) frame — the
    * single implementation of the capped-pair join, shared with
    * [[embeddingClusters]] so cap/threshold semantics cannot drift
    * between the near-dup query and the cluster closure. */
  def cosineNearDupsFromBuckets(withB: DataFrame, idCol: String,
      embCol: String, threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame) = {
    val sizes = withB.groupBy("bucket").agg(count(lit(1)).as("__bn"))
    val buckets =
      if (maxBucket <= 0) withB
      else withB.join(
        sizes.where(col("__bn") <= maxBucket).select("bucket"),
        Seq("bucket"))
    val pairs = buckets
      .select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
        col("bucket"))
      .join(buckets.select(col(idCol).as("id_b"),
        col(embCol).as("emb_b"), col("bucket")), Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      // computeOnce pins the cosine in its projection: the threshold
      // predicate otherwise sinks below it and re-runs the full
      // cosine in a Filter (2x per candidate pair — PlanAudit r11);
      // null cos (dim-mismatch / zero-norm) still drops, `null >= t`
      // is null either way
      .withColumn("cos",
        PlanHints.computeOnce(cosineOrNull(col("emb_a"), col("emb_b"))))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    // cap ≤ 0 disables the pair cap; the oversize view then lists
    // every (non-empty) bucket with its size (see Dedup's analog)
    val oversize = sizes.where(col("__bn") > math.max(maxBucket, 0))
      .select(col("bucket"), col("__bn").as("bn"))
    (pairs, oversize)
  }

  /** Hard-negative triplet mining — the training-data op for
    * contrastive embedding/retrieval models (in-batch negatives are
    * easy; the informative negatives are the CLOSEST non-duplicates):
    * for every anchor whose CAPPED LSH bucket mates include BOTH a
    * near-duplicate (cos ≥ τ) and a non-duplicate, emit
    *
    *   (anchor, pos = argmax_{cos ≥ τ} cos, neg = argmax_{cos < τ} cos)
    *
    * — the most-similar duplicate as positive, the most-similar
    * non-duplicate as hard negative. Anchors with a positive but NO
    * sub-τ mate (tight duplicate clusters) yield no row — they are
    * dedup work, not contrastive pairs; route them through
    * [[embeddingClusters]]. Buckets past `maxBucket` are diverted
    * exactly as in [[cosineNearDupsFromBuckets]] (never
    * pair-enumerated); call that for the diverted set if it matters.
    * Ties break to the smaller candidate id.
    *
    * Scale shape: the capped within-bucket pair join feeds ONE hash
    * aggregate — both argmaxes as conditional struct-maxes (O(1)
    * state per anchor, the q_dedup_canonical idiom) — so the pair
    * enumeration is scanned exactly once. */
  def hardNegativeTriplets(df: DataFrame, idCol: String, embCol: String,
                           tau: Double, nBits: Int = 8,
                           maxBucket: Int = 0): DataFrame = {
    // the argmax rides a -id negation inside a struct-max; a
    // non-numeric id would implicitly cast to null and emit unusable
    // null pos_id/neg_id — fail fast (hash string ids to long first)
    require(df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"hardNegativeTriplets needs a numeric id; '$idCol' is " +
        s"${df.schema(idCol).dataType}")
    val withB = lshBuckets(df.select(col(idCol), col(embCol)),
      idCol, embCol, nBits)
    val sizes = withB.groupBy("bucket").agg(count(lit(1)).as("__bn"))
    val buckets =
      if (maxBucket <= 0) withB
      else withB.join(
        sizes.where(col("__bn") <= maxBucket).select("bucket"),
        Seq("bucket"))
    // both orientations: every anchor sees all its bucket mates
    val p = buckets
      .select(col(idCol).as("anchor"), col(embCol).as("emb_a"),
        col("bucket"))
      .join(buckets.select(col(idCol).as("cand"),
        col(embCol).as("emb_b"), col("bucket")), Seq("bucket"))
      .where(col("anchor") =!= col("cand"))
      .select(col("anchor"), col("cand"),
        cosineOrNull(col("emb_a"), col("emb_b")).as("cos"))
    // max(struct(cos, -cand)) = highest cos, then SMALLEST cand id
    def bestOf(cond: Column): Column =
      max(when(cond, struct(col("cos").as("c"), (-col("cand")).as("ni"))))
    p.groupBy("anchor")
      .agg(bestOf(col("cos") >= tau).as("p"),
        bestOf(col("cos") < tau).as("n"))
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor"),
        (-col("p.ni")).as("pos_id"), col("p.c").as("pos_cos"),
        (-col("n.ni")).as("neg_id"), col("n.c").as("neg_cos"))
  }

  /** Number of k-means cells for a SemDeDup pass, sized FROM THE
    * CORPUS: ceil(n / targetCellPop), clamped to [1, maxCells] — the
    * [[nBitsFor]] discipline applied to cluster count. SemDeDup's
    * within-cell pair stage is quadratic in CELL population, so the
    * cell count must grow with the corpus for the pair mass to stay
    * linear (Abbas et al. 2023 run 100k clusters on LAION for exactly
    * this reason); a fixed k re-quadratizes at scale. Pure integer
    * arithmetic so the oracle can compute the identical k in SQL
    * (`(n + t - 1) // t`). `maxCells` bounds the centroid broadcast
    * (centroids ride the plan as literals — model-sized state). */
  def nCellsFor(n: Long, targetCellPop: Long = 1024L,
                maxCells: Int = 65536): Int = {
    require(targetCellPop > 0 && maxCells >= 1)
    math.max(1L, math.min(maxCells.toLong,
      (n + targetCellPop - 1) / targetCellPop)).toInt
  }

  /** SemDeDup pair stage over PRE-ASSIGNED cells (a frame carrying
    * `cell`, id, embedding — from [[cellAssignments]]): within each
    * cell, every id that has a LOWER-id cell-mate with cosine ≥ tau
    * is removed (keep-first). Returns (removedIds: (cell, id),
    * oversize: (cell, cn)) from ONE cell-size lineage — the
    * [[cosineNearDupsFromBuckets]] divert discipline on the k-means
    * cell key: a cell past `cellCap` is excluded from pair
    * enumeration entirely (its B²/2 pairs are a single-task hotspot)
    * and surfaced in the oversize frame so the caller can route it
    * to a group-collapse (one representative per cell) instead.
    * With k sized by [[nCellsFor]] the cap binds only degenerate
    * clusters (a cell at ~8× its target population), so the divert
    * is the guard rail, not the common path. `cellCap <= 0` disables
    * the divert (the oversize frame then lists every cell). */
  def semDeDupRemoved(cells: DataFrame, idCol: String, embCol: String,
                      tau: Double, cellCap: Int): (DataFrame, DataFrame) = {
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("__cn"))
    val kept =
      if (cellCap <= 0) cells
      else cells.join(
        sizes.where(col("__cn") <= cellCap).select("cell"), Seq("cell"))
    val a = kept.select(col("cell"), col(idCol).as("__ia"),
      col(embCol).as("__ea"))
    val b = kept.select(col("cell"), col(idCol).as("__ib"),
      col(embCol).as("__eb"))
    // distinct: an id removed by TWO lower ids must count once
    val removed = a.join(b, Seq("cell"))
      .where(col("__ia") < col("__ib") &&
        cosineOrNull(col("__ea"), col("__eb")) >= tau)
      .select(col("cell"), col("__ib").as(idCol)).distinct()
    val oversize = sizes.where(col("__cn") > math.max(cellCap, 0))
      .select(col("cell"), col("__cn").as("cn"))
    (removed, oversize)
  }

  /** vec → cluster-representative map over the embedding near-dup
    * graph: transitive closure of cosine-threshold pairs (the
    * semantic-dedup step of pipelines like SemDeDup — chains of
    * near-identical embeddings collapse to one cluster even when the
    * endpoints' cosine is below threshold).
    *
    * Edge set = capped within-bucket pairs at cosine ≥ threshold
    * UNION member→min edges inside each OVERSIZE bucket (a bucket
    * past the cap is a duplicate cluster by construction — linking
    * its members linearly both bounds the pair join and keeps the
    * diverted family in the closure). Components via
    * [[Dedup.connectedComponents]]; vectors touching no edge are
    * singleton clusters. Returns (idCol, cluster_id). */
  def embeddingClusters(df: DataFrame, idCol: String, embCol: String,
                        threshold: Double, nBits: Int = 8,
                        maxBucket: Int = 0,
                        maxIter: Int = 50): DataFrame = {
    // one bucket pass cached across pair emission, oversize edges,
    // and the id list; dropped before returning the lazy result
    val withB = lshBuckets(df, idCol, embCol, nBits)
      .select(col(idCol), col(embCol), col("bucket")).persist()
    val (pairsC, oversize) = cosineNearDupsFromBuckets(withB, idCol,
      embCol, threshold, maxBucket)
    val pairs = pairsC.select("id_a", "id_b")
    val edges =
      if (maxBucket <= 0) pairs
      else {
        val overMembers = withB.join(oversize.select("bucket"),
          Seq("bucket"))
        val overMins = overMembers.groupBy("bucket")
          .agg(min(col(idCol)).as("__keep"))
        pairs.unionByName(overMembers
          .join(overMins, Seq("bucket"))
          .where(col(idCol) =!= col("__keep"))
          .select(col(idCol).as("id_a"), col("__keep").as("id_b")))
      }
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b", maxIter)
    val ids = withB.select(col(idCol)).localCheckpoint()
    withB.unpersist()
    ids.join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol).cast("long")).as("cluster_id"))
  }
}
