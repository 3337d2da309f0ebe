package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector, cholesky}

/** GP kernels (reference `Henbun/gp/kernels.py:28-131`), Breeze form.
  *
  * These operate on MODEL-sized matrices: inducing/training blocks of
  * at most a few thousand points, held on the driver or inside one
  * executor partition. The DATA-sized path (kernel rows against a 100
  * TB coordinate table) lives in [[SparseGP.samples]], which evaluates
  * `K(z, x_block)` per partition against broadcast z — these Breeze
  * kernels are the per-block compute it calls.
  *
  * The lengthscale is a positive scalar-or-ARD vector exactly as the
  * reference (`gp/kernels.py:37-51`); batched ([N,n,d]) variants take
  * a sequence of matrices.
  */
sealed trait Kernel extends Serializable {
  def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double]
  def k(x: DenseMatrix[Double]): DenseMatrix[Double] = k(x, x)
  def kdiag(x: DenseMatrix[Double]): DenseVector[Double]

  /** cholesky(K(X) + jitter·I), jitter 1e-5 (reference `Cholesky`,
    * `gp/kernels.py:93-101`, `henbunrc:11`). */
  final def choleskyK(x: DenseMatrix[Double],
                      jitter: Double = Kernels.JitterLevel): DenseMatrix[Double] = {
    val kk = k(x)
    var i = 0
    while (i < kk.rows) { kk(i, i) += jitter; i += 1 }
    cholesky(kk)
  }

  /** Batched [N,n,d] form: per-batch-element application (the reference
    * tiles through tf batch ops; semantics identical). */
  final def kBatch(xs: Seq[DenseMatrix[Double]]): Seq[DenseMatrix[Double]] =
    xs.map(k(_))
}

/** A kernel parameterized by a positive scalar-or-ARD lengthscale
  * vector exactly as the reference (`gp/kernels.py:37-51`); supplies
  * the scaled-distance machinery every stationary kernel builds on.
  * Combinator kernels ([[Kernels.Sum]]/[[Kernels.Product]]) have no
  * single lengthscale and extend [[Kernel]] directly. */
sealed trait LengthscaleKernel extends Kernel {
  def lengthscales: DenseVector[Double]

  /** Scaled coordinates x/ℓ (ARD broadcast across columns). */
  protected def scale(x: DenseMatrix[Double]): DenseMatrix[Double] = {
    val l = lengthscales
    require(l.length == 1 || l.length == x.cols,
      s"ARD lengthscale dim ${l.length} != ${x.cols}")
    DenseMatrix.tabulate(x.rows, x.cols)((i, j) =>
      x(i, j) / (if (l.length == 1) l(0) else l(j)))
  }

  /** Pairwise ‖x/ℓ − x2/ℓ‖² via the −2XX2ᵀ + ‖x‖² + ‖x2‖² expansion
    * (reference `square_dist`, `gp/kernels.py:54-84`). */
  final def squareDist(x: DenseMatrix[Double],
                       x2: DenseMatrix[Double]): DenseMatrix[Double] = {
    val a = scale(x); val b = scale(x2)
    val g = a * b.t // [n,n2]
    val as = DenseVector.tabulate(a.rows)(i => {
      var s = 0.0; var j = 0
      while (j < a.cols) { val v = a(i, j); s += v * v; j += 1 }; s
    })
    val bs = DenseVector.tabulate(b.rows)(i => {
      var s = 0.0; var j = 0
      while (j < b.cols) { val v = b(i, j); s += v * v; j += 1 }; s
    })
    DenseMatrix.tabulate(a.rows, b.rows)((i, j) => -2.0 * g(i, j) + as(i) + bs(j))
  }

  def squareDist(x: DenseMatrix[Double]): DenseMatrix[Double] = squareDist(x, x)

  /** sqrt(sqdist + 1e-12) (reference `euclid_dist`). */
  final def euclidDist(x: DenseMatrix[Double],
                       x2: DenseMatrix[Double]): DenseMatrix[Double] =
    squareDist(x, x2).map(v => math.sqrt(v + 1e-12))
}

object Kernels {
  val JitterLevel = 1e-5

  /** K = exp(−½·sqdist), unit variance (reference `UnitRBF`,
    * `gp/kernels.py:103-111`). */
  final case class UnitRBF(lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      squareDist(x, x2).map(d => math.exp(-0.5 * d))
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      DenseVector.ones[Double](x.rows)
  }

  /** Matérn-3/2: K = (1 + √3·r)·exp(−√3·r), r = ‖x/ℓ − x2/ℓ‖ — the
    * standard rougher-than-RBF stationary kernel (once-differentiable
    * sample paths). BEYOND the reference's kernel surface, but a
    * drop-in [[Kernel]]: Cholesky, batched forms, and the sparse-GP
    * sampling path are kernel-generic, so it composes with the whole
    * GP layer unchanged. */
  final case class UnitMatern32(
      lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      euclidDist(x, x2).map { r =>
        val a = math.sqrt(3.0) * r
        (1.0 + a) * math.exp(-a)
      }
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      DenseVector.ones[Double](x.rows)
  }

  /** Matérn-5/2: K = (1 + √5·r + 5r²/3)·exp(−√5·r) — the default
    * kernel of much applied-GP practice (twice-differentiable sample
    * paths: smoother than Matérn-3/2, rougher than RBF). BEYOND the
    * reference's kernel surface; drop-in [[Kernel]] like
    * [[UnitMatern32]]. */
  final case class UnitMatern52(
      lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      euclidDist(x, x2).map { r =>
        val a = math.sqrt(5.0) * r
        (1.0 + a + a * a / 3.0) * math.exp(-a)
      }
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      DenseVector.ones[Double](x.rows)
  }

  /** Rational quadratic: K = (1 + ‖x/ℓ − x2/ℓ‖²/(2α))^(−α) — a scale
    * mixture of RBFs over lengthscales (gamma-distributed inverse
    * squared ℓ), recovering the RBF as α → ∞. The kernel for data
    * with structure at SEVERAL lengthscales. BEYOND the reference's
    * kernel surface; drop-in [[Kernel]]. */
  final case class UnitRQ(alpha: Double,
                          lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    require(alpha > 0.0, s"RQ alpha must be > 0, got $alpha")
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      squareDist(x, x2).map(d => math.pow(1.0 + d / (2.0 * alpha), -alpha))
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      DenseVector.ones[Double](x.rows)
  }

  /** Exactly-periodic kernel (MacKay 1998): K = exp(−2 Σ_d
    * sin²(π(x_d − x2_d)/p) / ℓ²) — sample paths repeat with period p
    * in every input dimension; multiply by an RBF ([[Product]]) for
    * the locally-periodic composite. NOT a [[LengthscaleKernel]]: the
    * sin warp must see RAW coordinate differences, so ℓ divides the
    * warped feature, never the inputs. BEYOND the reference's kernel
    * surface; drop-in [[Kernel]]. */
  final case class UnitPeriodic(period: Double, ell: Double = 1.0)
      extends Kernel {
    require(period > 0.0 && ell > 0.0, s"bad periodic($period, $ell)")
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      DenseMatrix.tabulate(x.rows, x2.rows) { (i, j) =>
        var s = 0.0; var c = 0
        while (c < x.cols) {
          val sn = math.sin(math.Pi * (x(i, c) - x2(j, c)) / period)
          s += sn * sn; c += 1
        }
        math.exp(-2.0 * s / (ell * ell))
      }
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      DenseVector.ones[Double](x.rows)
  }

  /** Cylindrically-symmetric RBF: K(x,x2) + K(x,−x2); Kdiag =
    * 1 + exp(−2‖x/ℓ‖²) (reference `UnitCsymRBF`,
    * `gp/kernels.py:113-131`). */
  final case class UnitCsymRBF(lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] = {
      val a = squareDist(x, x2).map(d => math.exp(-0.5 * d))
      val b = squareDist(x, x2 * -1.0).map(d => math.exp(-0.5 * d))
      a + b
    }
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] = {
      val s = scale(x)
      DenseVector.tabulate(x.rows) { i =>
        var ss = 0.0; var j = 0
        while (j < s.cols) { val v = s(i, j); ss += v * v; j += 1 }
        1.0 + math.exp(-2.0 * ss)
      }
    }
  }

  /** Linear (dot-product) kernel: K = (x/ℓ)·(x2/ℓ)ᵀ — non-stationary,
    * linear sample paths; the trend term in `RBF + Linear` composites.
    * BEYOND the reference's kernel surface; drop-in [[Kernel]]. */
  final case class UnitLinear(lengthscales: DenseVector[Double] = DenseVector(1.0))
      extends LengthscaleKernel {
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      scale(x) * scale(x2).t
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] = {
      val s = scale(x)
      DenseVector.tabulate(x.rows) { i =>
        var ss = 0.0; var j = 0
        while (j < s.cols) { val v = s(i, j); ss += v * v; j += 1 }
        ss
      }
    }
  }

  /** K = Σᵢ wᵢ·Kᵢ — a nonnegative-weighted sum of kernels is a kernel
    * (closure of the PSD cone). Variance scaling is `Sum(Seq(k), w)`.
    * BEYOND the reference's kernel surface; the whole GP layer
    * (Cholesky, batched forms, kernel-generic sparse path) takes it
    * unchanged. */
  final case class Sum(parts: Seq[Kernel],
                       weights: Seq[Double] = Nil) extends Kernel {
    require(parts.nonEmpty, "Sum of zero kernels")
    require(weights.isEmpty || weights.length == parts.length,
      s"weights ${weights.length} != parts ${parts.length}")
    require(weights.forall(_ >= 0.0), "kernel weights must be >= 0")
    private def w(i: Int): Double = if (weights.isEmpty) 1.0 else weights(i)
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      parts.zipWithIndex.map { case (p, i) => p.k(x, x2) * w(i) }.reduce(_ + _)
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      parts.zipWithIndex.map { case (p, i) => p.kdiag(x) * w(i) }.reduce(_ + _)
  }

  /** K = Πᵢ Kᵢ elementwise — a product of kernels is a kernel (Schur
    * product theorem). `RBF(ℓ₁) on dim-split coordinates` and
    * periodic×RBF-style locally-periodic composites build from this.
    * BEYOND the reference's kernel surface; drop-in [[Kernel]]. */
  final case class Product(parts: Seq[Kernel]) extends Kernel {
    require(parts.nonEmpty, "Product of zero kernels")
    def k(x: DenseMatrix[Double], x2: DenseMatrix[Double]): DenseMatrix[Double] =
      parts.map(_.k(x, x2)).reduce(_ *:* _)
    def kdiag(x: DenseMatrix[Double]): DenseVector[Double] =
      parts.map(_.kdiag(x)).reduce(_ *:* _)
  }
}
