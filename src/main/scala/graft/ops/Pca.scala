package graft.ops

import java.nio.ByteBuffer

import breeze.linalg.{eigSym, DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** PCA / whitening over an embedding column — the standard
  * preconditioner before ANN indexing (OPQ-style rotation, variance
  * pruning) and the classic "is my embedding space collapsed?"
  * diagnostic.
  *
  * Scale split: the second-moment (Gram) matrix is data-sized work —
  * ONE pass with a mergeable O(d²) aggregation buffer ([[GramAgg]],
  * the RowMatrix.computeGramian shape, never a d²-row explode); the
  * eigendecomposition is model-sized (d×d on the driver, Breeze
  * `eigSym`); the projection is a pure map with the k×d component
  * matrix inlined as literals (no join, no broadcast round-trip).
  *
  * Portability: sums accumulate in FIXED POINT (inputs and products
  * × 2²⁴, rounded to int64 — the [[Similarity.KmeansFxScale]] trick),
  * so the Gram matrix is bit-identical under any partitioning and any
  * engine: DuckDB rebuilds the exact integers and therefore the exact
  * covariance entries. Headroom: |x_i·x_j|·2²⁴ ≲ 2³⁰ for unit-scale
  * embeddings leaves ~2³² rows before int64 overflow.
  */
object Pca {

  /** Fixed-point scale shared with the k-means trainer. */
  val FxScale: Double = Similarity.KmeansFxScale

  /** `gram_agg(emb, d)`: array<long> of length 1 + d + d(d+1)/2 —
    * [n, Σfx(x_i)…, Σfx(x_i·x_j) for i ≤ j (row-major upper
    * triangle)…]. */
  def gramAgg(emb: Column, d: Int): Column =
    bridge.toColumn(GramAgg(bridge.toExpression(emb), d)
      .toAggregateExpression())

  /** Upper-triangle index of (i, j), i ≤ j, in a d-wide packing. */
  @inline def triIdx(i: Int, j: Int, d: Int): Int =
    i * d - i * (i - 1) / 2 + (j - i)

  /** Fitted model: mean vector, eigenvalues (variance per component,
    * descending), and row-major components (each a unit eigenvector).
    * All model-sized. */
  final case class PcaModel(n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]]) {
    def d: Int = mean.length
    def k: Int = components.length

    /** Append `outCol`: the k-dim projection W·(x − μ), optionally
      * whitened (each component scaled to unit variance). ONE
      * [[VecExpressions.matVec]] kernel pass (W as a plan constant,
      * the [[graft.ops.Similarity]] jlProject pattern) instead of k
      * separate dot kernels each re-walking the embedding; centering
      * folds into per-component constants (dot(x−μ, w) ≡ dot(x, w) −
      * Σ wᵢμᵢ with the constant summed driver-side), and the
      * subtract/scale is a cheap transform over the k-element output
      * — value-identical to the per-component form since matVec's
      * per-row accumulation order equals VecDot's. */
    def project(df: DataFrame, embCol: String, outCol: String,
                whiten: Boolean = false): DataFrame = {
      val consts = (0 until k).map(c =>
        (0 until d).map(i => components(c)(i) * mean(i)).sum)
      val scales = (0 until k).map(c =>
        if (whiten) 1.0 / math.sqrt(math.max(eigenvalues(c), 1e-12))
        else 1.0)
      val raw = VecExpressions.matVec(col(embCol),
        components.flatten.toIndexedSeq, d)
      val cArr = typedLit(consts)
      val sArr = typedLit(scales)
      df.withColumn(outCol, transform(raw, (v, i) =>
        (v - element_at(cArr, i + 1)) * element_at(sArr, i + 1)))
    }

    /** OPQ-P projection (Ge et al. 2014): [[project]] with the
      * components permuted by [[Pca.opqAllocation]] so each
      * consecutive d/m block — a PQ subspace — carries a balanced
      * share of the variance. Needs the full rotation (k == d). */
    def opqProject(df: DataFrame, embCol: String, outCol: String,
                   m: Int): DataFrame = {
      require(k == d, s"OPQ rotation needs the full component set ($k/$d)")
      val perm = Pca.opqAllocation(eigenvalues.toSeq, m)
      copy(eigenvalues = perm.map(eigenvalues).toArray,
        components = perm.map(components).toArray)
        .project(df, embCol, outCol)
    }
  }

  /** One-pass covariance: returns (n, mean, population covariance)
    * from the fixed-point Gram sums. */
  def momentsOf(df: DataFrame, embCol: String, d: Int)
      : (Long, DenseVector[Double], DenseMatrix[Double]) = {
    val arr = df.agg(gramAgg(col(embCol), d).as("g"))
      .head().getSeq[Long](0).toArray
    val n = arr(0)
    require(n > 0, "PCA over an empty frame")
    val mean = DenseVector.tabulate(d)(i => arr(1 + i).toDouble / FxScale / n)
    val cov = DenseMatrix.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      val s2 = arr(1 + d + triIdx(a, b, d)).toDouble / FxScale / n
      s2 - mean(i) * mean(j)
    }
    (n, mean, cov)
  }

  /** Parametric-OPQ component permutation (Ge et al. 2014 §4,
    * "OPQ-P"): PQ quantizes each subspace independently, so the
    * rotation should BALANCE variance across subspaces, not just
    * concentrate it — greedy eigenvalue allocation assigns each
    * principal component (λ descending) to the non-full subspace
    * with the smallest log-variance product. Returns the component
    * order such that consecutive `d/m` blocks form the subspaces. */
  def opqAllocation(eigenvalues: Seq[Double], m: Int): Seq[Int] = {
    val d = eigenvalues.length
    require(m >= 1 && d % m == 0, s"subspace count $m must divide $d")
    val w = d / m
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = Array.fill(m)(0.0)
    // eigenvalues arrive descending from [[fit]]; stable re-sort for
    // robustness against caller-supplied orders
    val order = eigenvalues.indices.sortBy(i => -eigenvalues(i))
    order.foreach { c =>
      val b = (0 until m).filter(buckets(_).length < w)
        .minBy(i => (logSum(i), i))
      buckets(b) = c :: buckets(b)
      logSum(b) += math.log(math.max(eigenvalues(c), 1e-300))
    }
    buckets.toSeq.flatMap(_.reverse)
  }

  /** Fit a k-component PCA (top-k eigenpairs of the population
    * covariance; components sign-fixed so the largest-|.| entry is
    * positive — eigenvectors are otherwise sign-ambiguous and the
    * model would not be reproducible). */
  def fit(df: DataFrame, embCol: String, d: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= d, s"bad component count $k for d=$d")
    val (n, mean, cov) = momentsOf(df, embCol, d)
    val es = eigSym(cov)
    val order = (0 until d).sortBy(i => -es.eigenvalues(i))
    val comps = order.take(k).map { c =>
      val v = es.eigenvectors(::, c).toArray
      val m = v.indices.maxBy(i => math.abs(v(i)))
      if (v(m) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(n, mean.toArray, order.take(k)
      .map(es.eigenvalues(_)).toArray, comps)
  }
}

/** Mergeable one-pass Gram/moment buffer: int64 fixed-point sums of
  * x_i and x_i·x_j (upper triangle) plus the row count. Exact under
  * any partitioning; ~(1 + d + d(d+1)/2)·8 bytes per partial. */
case class GramAgg(embExpr: Expression, d: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(d >= 1 && d <= 4096, s"bad dimension $d")
  private val len = 1 + d + d * (d + 1) / 2

  override def children: Seq[Expression] = Seq(embExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // lazy: the child is unresolved (typeless) at construction time
  private lazy val isFloat = embExpr.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"gram_agg over $t")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](len)

  /** Half-away-from-zero, matching Spark SQL round() and DuckDB
    * round() — Java's Math.round is half-toward-+∞ and would disagree
    * on exact negative .5 quanta. */
  @inline private def fx(v: Double): Long = {
    val s = v * Pca.FxScale
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
  }

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val a = embExpr.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[ArrayData]
      require(arr.numElements() == d,
        s"gram_agg: vector of ${arr.numElements()} elements, expected $d")
      val x = new Array[Double](d)
      var i = 0
      while (i < d) {
        x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      b(0) += 1L
      i = 0
      var p = 1 + d
      while (i < d) {
        b(1 + i) += fx(x(i))
        var j = i
        while (j < d) {
          b(p) += fx(x(i) * x(j))
          p += 1; j += 1
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < len) { b(i) += o(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * len)
    var i = 0
    while (i < len) { bb.putLong(b(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new Array[Long](len)
    var i = 0
    while (i < len) { b(i) = bb.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): GramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): GramAgg =
    copy(embExpr = cs(0))
  override def prettyName: String = "gram_agg"
}
