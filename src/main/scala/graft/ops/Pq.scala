package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the 100 TB storage-side ANN path
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; the IVF-PQ layout every large-scale vector index uses).
  *
  * The embedding is split into `m` consecutive subspaces; each
  * subspace gets its own tiny codebook (`ksub` centroids) and every
  * vector is stored as `m` small codes instead of `d` floats — a
  * 64-dim float32 vector becomes 4 bytes at m=4/ksub≤256, a 64×
  * compression that turns a 100 TB embedding corpus into ~1.6 TB of
  * codes. Query-side, asymmetric-distance computation (ADC) scores a
  * RAW query against CODED corpus rows with `m` codebook lookups per
  * pair instead of `d` multiplications.
  *
  * Scale shapes:
  *  - [[encode]] is ONE scan with a single codegen'd kernel
  *    ([[PqEncodeExpr]]) — no joins, no shuffle.
  *  - [[adcTop1]] broadcasts the (small) query set and scans the coded
  *    corpus once — the classic ADC sweep; combine with the IVF cell
  *    restriction ([[Similarity.cellAssignments]]) for sublinear probing.
  *  - [[trainCodebooks]] runs the fixed-point Lloyd's iteration
  *    ([[Similarity.kmeansIterate]]) independently per subspace: one
  *    assignment scan + one hash aggregate per round per subspace, and
  *    the 2²⁴ fixed-point sums make trained codebooks BIT-IDENTICAL
  *    under any partitioning.
  *
  * Everything is deterministic and cross-engine checkable: codes are
  * 0-based positions with (dist, index)-lexicographic tie-break, and
  * the oracle query (q_embed_pq) replays encode + ADC in DuckDB.
  */
object Pq {

  /** Int8 scalar quantization (the FAISS "SQ8" codec — 4× smaller
    * than float32, one multiply to decode): qᵢ = clamp(⌊xᵢ·127⌋,
    * −127, 127) under a unit input scale. FLOOR, never cast-rounding
    * (ties-to-even vs truncate differs across engines). A pure map —
    * no shuffle; decode is qᵢ/127. */
  def sq8Encode(emb: Column): Column =
    transform(emb, x =>
      least(greatest(floor(x.cast("double") * lit(127.0)), lit(-127.0)),
        lit(127.0)).cast("long"))

  /** Decoded vector (array<double>). */
  def sq8Decode(code: Column): Column =
    transform(code, q => q.cast("double") / lit(127.0))

  /** Squared reconstruction error ‖x − decode(encode(x))‖², forward
    * element order on both engines. */
  def sq8Error(emb: Column, code: Column): Column =
    aggregate(zip_with(emb, code,
      (x, q) => {
        val d = x.cast("double") - q.cast("double") / lit(127.0)
        d * d
      }), lit(0.0), (acc, v) => acc + v)

  /** codebooks(m)(j) = sub-centroid j of subspace m (positions are the
    * codes). Subspaces cover consecutive element ranges in order. */
  type Codebooks = Seq[Seq[Seq[Double]]]

  /** Equal split of `dim` into `m` (offset, width) subspaces. */
  def subspaces(dim: Int, m: Int): Seq[(Int, Int)] = {
    require(m > 0 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val w = dim / m
    (0 until m).map(s => (s * w, w))
  }

  /** Deterministic untrained codebooks: the slices of the first `ksub`
    * vectors in id order (the same seeding rule the IVF oracle uses) —
    * positions follow id order. Feed to [[trainCodebooks]] as the
    * init, or use directly for a replayable oracle. */
  def codebooksFromFirst(df: DataFrame, idCol: String, embCol: String,
                         m: Int, ksub: Int): Codebooks = {
    // order by the LONG-cast id so the seed SET and the position
    // ordering below agree (a raw string-typed id would pick a
    // lexicographic seed set, then position it numerically)
    val rows = df.orderBy(col(idCol).cast("long")).limit(ksub)
      .select(col(idCol).cast("long"), col(embCol))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case o => throw new IllegalArgumentException(s"bad element $o")
      })
    require(rows.length == ksub,
      s"need $ksub distinct seed vectors, got ${rows.length} — an " +
        "undersized codebook would silently change code semantics " +
        "(dead centroid positions)")
    val dim = rows.head.length
    subspaces(dim, m).map { case (off, w) =>
      rows.toSeq.map(v => v.slice(off, off + w): Seq[Double])
    }
  }

  /** PQ code column: array<long> of the m nearest-sub-centroid
    * positions ([[PqEncodeExpr]] — one kernel, one pass). */
  def encodeCol(emb: Column, cb: Codebooks): Column =
    VecExpressions.pqEncode(emb, cb)

  /** Composable slice + `array_min` form of [[encodeCol]] (the
    * executable spec the native kernel is equivalence-tested against). */
  def encodeColSpec(emb: Column, cb: Codebooks): Column = {
    val dim = cb.map(_.head.length).sum
    val subs = subspaces(dim, cb.length)
    array(cb.zip(subs).map { case (centroids, (off, w)) =>
      val sub = slice(emb, off + 1, w)
      array_min(array(centroids.zipWithIndex.map { case (v, j) =>
        struct(VecExpressions.l2sq(sub, typedLit(v)).as("d"),
          lit(j.toLong).as("c"))
      }: _*)).getField("c")
    }: _*)
  }

  /** (id, embedding, code) — one scan. */
  def encode(df: DataFrame, idCol: String, embCol: String,
             cb: Codebooks): DataFrame =
    df.select(col(idCol), col(embCol),
      encodeCol(col(embCol), cb).as("code"))

  /** ADC squared L2 between a raw query vector and a code array. */
  def adcDist(queryEmb: Column, code: Column, cb: Codebooks): Column =
    VecExpressions.adcDist(queryEmb, code, cb)

  /** m-term composable spec of [[adcDist]]. */
  def adcDistSpec(queryEmb: Column, code: Column, cb: Codebooks): Column = {
    val dim = cb.map(_.head.length).sum
    val subs = subspaces(dim, cb.length)
    cb.zip(subs).zipWithIndex.map { case ((centroids, (off, w)), s) =>
      VecExpressions.l2sq(slice(queryEmb, off + 1, w),
        element_at(typedLit(centroids.map(_.toSeq)),
          element_at(code, s + 1).cast("int") + 1))
    }.reduce(_ + _)
  }

  /** Quantization error of a row against its own code — the training
    * objective (avg over the corpus = PQ distortion). */
  def quantizationError(emb: Column, code: Column, cb: Codebooks): Column =
    adcDist(emb, code, cb)

  /** ADC nearest neighbor: for every query row WITH at least one
    * candidate, the minimum ADC distance over the coded corpus (self
    * excluded by id) — a query whose candidate set is empty (a 1-row
    * corpus here; a singleton coarse cell in [[ivfAdcTop1]]) emits NO
    * row, not a null: inner-join-then-group semantics, identical in
    * the DuckDB oracles. Callers joining results back by qid should
    * left-join and treat the miss as "no neighbor". The query side is
    * broadcast (queries are the small side BY USE — batch scoring a
    * handful of probes against a petabyte-scale coded corpus), so the
    * plan is ONE scan of the codes with m lookups per (query, row)
    * pair and a partial-agg'd min — no shuffle of the corpus. */
  def adcTop1(coded: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, cb: Codebooks): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    coded.crossJoin(broadcast(q))
      .where(col("qid") =!= col(idCol))
      .groupBy(col("qid"))
      .agg(min(adcDist(col("qemb"), col("code"), cb)).as("adc_top1_dist"))
  }

  /** Two-stage retrieval: PQ-ADC candidate generation followed by
    * EXACT re-ranking — the production recipe (Jégou et al. 2011 §V:
    * coarse ADC sweep, then re-rank a short list with true
    * distances). Stage 1 scans the CODED corpus once per query batch
    * and keeps the `c` smallest ADC distances via the bounded
    * [[TopKAgg]] (O(c) state, map-side partial, (dist, id)-
    * lexicographic so the candidate SET is deterministic even when
    * equal codes tie on ADC distance). Stage 2 joins only those c·|Q|
    * candidate ids back to the raw vectors for exact scoring — the
    * expensive full-width arithmetic touches c rows per query instead
    * of the corpus. Returns (qid, top1_id, top1_dist) by exact
    * distance, (dist, id)-tie-broken. `coded` is an [[encode]] output
    * (id, embedding, code). */
  def adcRerankTop1(coded: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, cb: Codebooks, c: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val cands = coded.crossJoin(broadcast(q))
      .where(col("qid") =!= col(idCol))
      .groupBy(col("qid"))
      .agg(TopK.topK(-adcDist(col("qemb"), col("code"), cb),
        col(idCol).cast("long"), c).as("cand"))
      .select(col("qid"), explode(col("cand.id")).as("cand_id"))
    cands
      .join(coded.select(col(idCol).cast("long").as("cand_id"),
        col(embCol).as("cemb2")), "cand_id")
      .join(broadcast(q), "qid")
      .groupBy(col("qid"))
      .agg(min(struct(
        VecExpressions.l2sq(col("qemb"), col("cemb2")).as("dist"),
        col("cand_id").as("id"))).as("best"))
      .select(col("qid"), col("best.id").as("top1_id"),
        col("best.dist").as("top1_dist"))
  }

  /** IVF-PQ probe — the production vector-index layout (Faiss
    * IVF,PQ): the corpus is stored as (cell, code) — a coarse cell id
    * plus m sub-codes per vector — and a query scores ONLY its own
    * cell's codes with ADC lookups. Cost per query: O(cell size · m)
    * lookups instead of O(n · d) multiplications; the join is
    * cell-local (the same bounded shape as [[Similarity.ivfTop1]])
    * and the build side is the COMPRESSED corpus, so at 100 TB the
    * shuffled bytes drop by the PQ compression factor (~64×).
    * `cells` is a [[Similarity.cellAssignments]] output (id,
    * embedding, cell). */
  def ivfAdcTop1(cells: DataFrame, idCol: String, embCol: String,
                 cb: Codebooks): DataFrame = {
    val coded = cells.select(col(idCol).as("id_b"), col("cell"),
      encodeCol(col(embCol), cb).as("code"))
    cells.select(col(idCol).as("qid"), col(embCol).as("qemb"), col("cell"))
      .join(coded, Seq("cell"))
      .where(col("qid") =!= col("id_b"))
      .groupBy(col("qid"))
      .agg(min(adcDist(col("qemb"), col("code"), cb)).as("adc_top1_dist"))
  }

  /** Per-subspace Lloyd's training from `init` (e.g.
    * [[codebooksFromFirst]]): each subspace trains independently via
    * the fixed-point [[Similarity.kmeansIterate]] on the sliced
    * column — bit-identical results under any partitioning. A cell
    * that loses all members is dropped from that subspace's codebook
    * (positions renumber), matching kmeansIterate semantics. */
  def trainCodebooks(df: DataFrame, idCol: String, embCol: String,
                     init: Codebooks, iters: Int): Codebooks = {
    val dim = init.map(_.head.length).sum
    val subs = subspaces(dim, init.length)
    init.zip(subs).map { case (centroids, (off, w)) =>
      val sub = df.select(col(idCol),
        slice(col(embCol), off + 1, w).as("__sub"))
      val cents = centroids.zipWithIndex
        .map { case (v, j) => (j.toLong, v) }.toArray
      Similarity.kmeansIterate(sub, idCol, "__sub", cents, iters)
        .toSeq.map(_._2)
    }
  }
}
