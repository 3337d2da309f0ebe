package graft

import graft.autodiff.{Expr, ExprFns}
import graft.core.{Module, Variational}
import graft.data.DataSet
import graft.optimize.Elbo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The two regression models that [[SparkEntry.entry]], the `Bench`
  * optimizer segments and the demo mains train. Each caller prepares
  * its own data; a fresh instance is a fresh, untrained module. */
object Models {

  /** Variational Bayesian linear regression (the reference's
    * Henbun_structure2 demo): y ~ N(a + b·x, variance exp(c)) over
    * input columns `x`, `y`, with Normal posteriors on a, b and c. */
  final class Linear {
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    val c = root.add("c", new Variational.Normal(Seq(1)))

    /** An ELBO over `ds`; every ELBO of one instance trains the same
      * parameters. `localThreshold = 0` forces the distributed path. */
    def elbo(ds: DataSet,
             localThreshold: Long = Elbo.LocalThresholdCells): Elbo =
      new Elbo(root, ds, Seq("x", "y"), ctx => {
        val fit = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
        ExprFns.gaussian(ctx.in("y"), fit, Expr.exp(ctx.sample1(c)))
      }, seed = 0, localThreshold = localThreshold)
  }

  /** RFF-GP regression: 16 random Fourier cosine features of `x`
    * (unit lengthscale, frequency seed 13) with Normal posteriors on
    * their weights, y ~ N(Σ w_j·φ_j(x), variance 0.25). */
  final class RffGp {
    private val d = 16
    val root = new Module
    (0 until d).foreach(j => root.add(s"rw$j", new Variational.Normal(Seq(1))))
    private val weights = root.variationals.toMap
    private val cols = (0 until d).map(j => s"phi$j") :+ "rff_y"

    /** The training frame: the features of column `x` and `y` as
      * `rff_y`. */
    def features(df: DataFrame): DataFrame = {
      val (w, bph) = graft.gp.Rff.frequencies(1, d,
        breeze.linalg.DenseVector(1.0), seed = 13L)
      val phis = graft.gp.RffGpr.featureCols(Seq(col("x")), w, bph)
      df.select(phis.zipWithIndex.map { case (p, j) => p.as(s"phi$j") } :+
        col("y").as("rff_y"): _*)
    }

    /** An ELBO over `ds` (a [[features]] frame); every ELBO of one
      * instance trains the same weights. `localThreshold = 0` forces
      * the distributed path. */
    def elbo(ds: DataSet,
             localThreshold: Long = Elbo.LocalThresholdCells): Elbo =
      new Elbo(root, ds, cols, ctx => {
        val mean = (0 until d).foldLeft(Expr.c(0.0)) { (acc, j) =>
          acc + ctx.sample1(weights(s"rw$j")) * ctx.in(s"phi$j")
        }
        ExprFns.gaussian(ctx.in("rff_y"), mean, Expr.c(0.25))
      }, seed = 0, localThreshold = localThreshold)
  }
}
