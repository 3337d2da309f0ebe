package graft.examples

import graft.data.DataSet
import org.apache.spark.sql.functions._

/** The minimum end-to-end slice (SURVEY §7 step 5): variational
  * Bayesian linear regression (`notebooks/Henbun_structure2.ipynb`)
  * trained on the driver testdata. Run:
  * `sbt "runMain graft.examples.ElboDemo [maxiter] [minibatch] [lr]"`. */
object ElboDemo {
  def main(args: Array[String]): Unit = {
    val maxiter = args.headOption.map(_.toInt).getOrElse(1000)
    val mb = args.lift(1).map(_.toInt).getOrElse(2048)
    val lr = args.lift(2).map(_.toDouble).getOrElse(0.05)
    val spark = graft.LocalSpark.session(4)

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("x"),
        (col("l_extendedprice") / 10000.0).as("y"))
    val model = new graft.Models.Linear
    val ds = new DataSet(li, seed = 0)
    val elbo = model.elbo(ds)

    val t0 = System.nanoTime()
    elbo.optimize(maxiter, mb, lr, verboseEvery = math.max(1, maxiter / 20))
    val secs = (System.nanoTime() - t0) / 1e9
    val stats = ds.train.agg(avg("x"), avg("y"), avg(col("x") * col("y")),
      avg(col("x") * col("x"))).head()
    val (mx, my, mxy, mxx) = (stats.getDouble(0), stats.getDouble(1),
      stats.getDouble(2), stats.getDouble(3))
    val slope = (mxy - mx * my) / (mxx - mx * mx)
    val inter = my - slope * mx
    println(f"[demo] $maxiter iters in $secs%.1f s (${maxiter / secs}%.1f it/s)")
    println(f"[demo] a=${model.a.qMu.value(0)}%.4f (OLS $inter%.4f)  " +
      f"b=${model.b.qMu.value(0)}%.4f (OLS $slope%.4f)  " +
      f"noise=${math.exp(model.c.qMu.value(0))}%.4f")
    println(f"[demo] test ELBO=${elbo.run(training = false)}%.2f")
    spark.stop()
  }
}
