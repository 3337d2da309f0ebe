package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector, cholesky}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.{DataFrame, Row}

/** Gaussian-process posterior samplers (reference `Henbun/gp/gp.py`).
  *
  * [[GP]] is the dense path: O(n³) Cholesky of the full gram — usable
  * to a few thousand points, on the driver (the reference carries the
  * same caveat, `gp/gp.py:24-28`).
  *
  * [[SparseGP]] is the inducing-point (Nyström/whitened) approximation
  * — the genuinely distributed path and the key to 100 TB scale: the
  * model-sized quantities (z [m,d], Lm⁻¹ [m,m], u [N,m]) are broadcast,
  * and each partition of the n-sized coordinate data computes its own
  * K(z, x_block) gram block, one gemm against Lm⁻¹, and per-row
  * corrections. No shuffle, no driver materialization of data, work
  * and memory O(m²·block) per task.
  */
final class GP(val kern: Kernel) extends Serializable {

  /** Full-rank posterior sample: u · Lᵀ, L = chol(K(x)+jI)
    * (reference `GP.samples`, `gp/gp.py:37-50`). x [n,d], u [N,n] →
    * [N,n]. */
  def samples(x: DenseMatrix[Double], u: DenseMatrix[Double]): DenseMatrix[Double] = {
    require(u.cols == x.rows, s"u cols ${u.cols} != n ${x.rows}")
    u * kern.choleskyK(x).t
  }
}

object SparseGP {
  sealed trait Correction
  /** Drop the Nyström residual entirely. */
  case object Neglected extends Correction
  /** Add √|diag(Knn − Knm Kmm⁻¹ Kmn)|·ε per point (default). */
  case object Diagonal extends Correction
  /** Fully factorize the residual — O(n³), driver path only
    * (the reference carries the same warning, `gp/gp.py:76-79`). */
  case object FullRank extends Correction
}

final class SparseGP(val kern: Kernel, val z: DenseMatrix[Double])
    extends Serializable {
  import SparseGP._

  val m: Int = z.rows

  /** Lm = chol(K(z,z) + jI) and its explicit inverse — both model-sized
    * [m,m], computed once on the driver and broadcast with the task
    * closure (reference `_effective_LT`, `gp/gp.py:146-174`, which also
    * materializes Lm⁻¹ for the batch path). */
  val lm: DenseMatrix[Double] = kern.choleskyK(z)
  val lmInv: DenseMatrix[Double] = {
    // forward substitution on the identity
    val inv = DenseMatrix.zeros[Double](m, m)
    var c = 0
    while (c < m) {
      var i = c
      while (i < m) {
        var s = if (i == c) 1.0 else 0.0
        var j = c
        while (j < i) { s -= lm(i, j) * inv(j, c); j += 1 }
        inv(i, c) = s / lm(i, i)
        i += 1
      }
      c += 1
    }
    inv
  }

  /** Effective Cholesky factor LnT = Lm⁻¹·K(z,x), [m,n]. */
  def effectiveLT(x: DenseMatrix[Double]): DenseMatrix[Double] =
    lmInv * kern.k(z, x)

  /** Nyström residual Knn − Knm Kmm⁻¹ Kmn (reference `_additional_cov`,
    * `gp/gp.py:177-192`). */
  def additionalCovDiag(x: DenseMatrix[Double],
                        lnT: DenseMatrix[Double]): DenseVector[Double] = {
    val kd = kern.kdiag(x)
    DenseVector.tabulate(x.rows) { i =>
      var s = 0.0; var r = 0
      while (r < m) { val v = lnT(r, i); s += v * v; r += 1 }
      kd(i) - s
    }
  }

  /** Driver (Breeze) sampling path, mirroring `SparseGP.samples`
    * (`gp/gp.py:99-143`). x [n,d], u [N,m] → [N,n]. `eps` supplies the
    * correction draws ([N,n]) so runs are replayable. */
  def samples(x: DenseMatrix[Double], u: DenseMatrix[Double],
              correction: Correction = Diagonal,
              eps: Option[DenseMatrix[Double]] = None): DenseMatrix[Double] = {
    val lnT = effectiveLT(x) // [m,n]
    val base = u * lnT // [N,n]
    correction match {
      case Neglected => base
      case Diagonal =>
        val d = additionalCovDiag(x, lnT).map(v => math.sqrt(math.abs(v)))
        val e = eps.getOrElse(DenseMatrix.zeros[Double](u.rows, x.rows))
        DenseMatrix.tabulate(u.rows, x.rows)((k, i) =>
          base(k, i) + d(i) * e(k, i))
      case FullRank =>
        val res = kern.k(x) - lnT.t * lnT
        var i = 0
        while (i < res.rows) { res(i, i) += Kernels.JitterLevel; i += 1 }
        val ch = cholesky(res)
        val e = eps.getOrElse(DenseMatrix.zeros[Double](u.rows, x.rows))
        base + e * ch.t
    }
  }

  /** DISTRIBUTED posterior-variance diagnostic: appends the Nyström
    * residual diag(Knn − Knm Kmm⁻¹ Kmn) as a column — the quantity the
    * diagonal correction draws from. Same per-partition shape as
    * [[sampleColumn]] (broadcast z/Lm⁻¹, one gram block + gemm per
    * partition), fully deterministic. */
  def nystromResidualColumn(df: DataFrame, xCols: Seq[String],
                            outCol: String = "gp_resid",
                            blockSize: Int = 4096): DataFrame = {
    val kernL = kern; val zL = z; val lmInvL = lmInv; val mm = m
    val d = xCols.length
    val idx = xCols.map(df.schema.fieldIndex)
    val schema = df.schema.add(outCol, DoubleType)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(blockSize).flatMap { rows =>
        val bn = rows.length
        val x = DenseMatrix.tabulate(bn, d)((i, j) =>
          rows(i).get(idx(j)) match {
            case v: java.lang.Double => v.doubleValue()
            case v: java.lang.Float => v.toDouble
            case v: java.lang.Long => v.toDouble
            case v: java.lang.Integer => v.toDouble
            case other => throw new IllegalArgumentException(
              s"non-numeric coordinate ${xCols(j)}: $other")
          })
        val lnT = lmInvL * kernL.k(zL, x)
        val kd = kernL.kdiag(x)
        rows.iterator.zipWithIndex.map { case (row, i) =>
          var s = 0.0; var r = 0
          while (r < mm) { val v = lnT(r, i); s += v * v; r += 1 }
          Row.fromSeq(row.toSeq :+ (kd(i) - s))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** DISTRIBUTED sampling: appends an `outCol` array column of N
    * posterior-sample values per row of `df`, whose `xCols` are the
    * point coordinates. Per partition: one [m, block] gram against
    * broadcast z, one gemm with broadcast Lm⁻¹, per-row diagonal
    * correction with seeded draws. FullRank needs the whole gram —
    * driver path only. */
  def sampleColumn(df: DataFrame, xCols: Seq[String], u: DenseMatrix[Double],
                   correction: Correction = Diagonal, seed: Long = 0L,
                   outCol: String = "gp_sample",
                   blockSize: Int = 4096): DataFrame = {
    require(correction != FullRank,
      "fullrank correction requires the whole gram; use samples() on the driver")
    require(u.cols == m, s"u cols ${u.cols} != m $m")
    val n = u.rows
    val kernL = kern; val zL = z; val lmInvL = lmInv
    val d = xCols.length
    val idx = xCols.map(df.schema.fieldIndex)
    val schema = df.schema.add(outCol, ArrayType(DoubleType, false))
    val rdd = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rng = new scala.util.Random(seed * 31 + pid)
      it.grouped(blockSize).flatMap { rows =>
        val bn = rows.length
        val x = DenseMatrix.tabulate(bn, d)((i, j) =>
          rows(i).get(idx(j)) match {
            case v: java.lang.Double => v.doubleValue()
            case v: java.lang.Float => v.toDouble
            case v: java.lang.Long => v.toDouble
            case v: java.lang.Integer => v.toDouble
            case other => throw new IllegalArgumentException(
              s"non-numeric coordinate ${xCols(j)}: $other")
          })
        val lnT = lmInvL * kernL.k(zL, x) // [m,bn]
        val base = u * lnT // [N,bn]
        val corr: DenseVector[Double] = correction match {
          case Diagonal =>
            val kd = kernL.kdiag(x)
            DenseVector.tabulate(bn) { i =>
              var s = 0.0; var r = 0
              while (r < u.cols) { val v = lnT(r, i); s += v * v; r += 1 }
              math.sqrt(math.abs(kd(i) - s))
            }
          case _ => DenseVector.zeros[Double](bn)
        }
        rows.iterator.zipWithIndex.map { case (row, i) =>
          val arr = new Array[Double](n)
          var k = 0
          while (k < n) {
            arr(k) = base(k, i) +
              (if (correction == Diagonal) corr(i) * rng.nextGaussian() else 0.0)
            k += 1
          }
          Row.fromSeq(row.toSeq :+ (arr.toSeq: Seq[Double]))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
