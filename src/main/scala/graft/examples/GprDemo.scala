package graft.examples

import graft.data.DataSet
import graft.gp.GpExpr
import org.apache.spark.sql.functions._

/** End-to-end sparse-GP regression demo: learn the lengthscale, the
  * noise, the whitened inducing weights (and optionally the inducing
  * locations) on lineitem-derived data, then print the fit and a
  * posterior-predictive summary — the full workflow of the reference's
  * `notebooks/GaussianProcess.ipynb` on Spark.
  *
  * Usage: runMain graft.examples.GprDemo [sfDir] [learnZ]
  */
object GprDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val learnZ = args.length > 1 && args(1).toBoolean
    val spark = graft.LocalSpark.session(8)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 7.2).as("x"))
      .withColumn("y", sin(col("x") * 2.0))
    val z = Seq(-3.0, -2.25, -1.5, -0.75, 0.0, 0.75, 1.5, 2.25, 3.0)
    val ds = new DataSet(li, seed = 0)

    val t0 = System.nanoTime()
    val fit = GpExpr.trainSparse1d(ds, "x", "y", z, ell0 = 2.0,
      learnEll = true, learnZ = learnZ, rounds = 10, stepsPerRound = 120,
      lr = 0.05)
    println(f"trained in ${(System.nanoTime() - t0) / 1e9}%.1f s: " +
      f"ELBO=${fit.elbo}%.1f lengthscale=${fit.lengthscale}%.3f " +
      f"noiseVar=${fit.noiseVar.value(0)}%.4f")
    if (learnZ) println("z: " + fit.z.map(v => f"$v%.2f").mkString(", "))

    val px = Seq(-2.0, -1.0, 0.0, 1.0, 2.0)
    px.zip(fit.predictiveMean(px)).foreach { case (x, m) =>
      println(f"  mean f($x%5.2f) = $m%7.4f   (sin(2x) = ${math.sin(2 * x)}%7.4f)")
    }
    val sampled = fit.posteriorSampleColumn(li.limit(5), "x", k = 200, seed = 1)
    sampled.select(col("x"),
        aggregate(col("gp_sample"), lit(0.0), (a, v) => a + v)
          .divide(lit(200.0)).as("sample_mean"))
      .collect().foreach(r =>
        println(f"  posterior sample mean @x=${r.getDouble(0)}%5.2f: " +
          f"${r.getDouble(1)}%7.4f"))
    ds.unpersist()
    spark.stop()
  }
}
