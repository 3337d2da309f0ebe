package graft.examples

import graft.data.DataSet
import org.apache.spark.sql.functions._

/** Distributed-ELBO throughput probe: it/s of the forced-treeAggregate
  * path as a function of stepsPerBatch (the per-job scheduling/scan
  * amortization knob). Run:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.examples.DistProbe"` */
object DistProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session(32)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"),
        ((col("l_extendedprice") / 10000.0 - 3.8) / 2.5).as("y"))
    val model = new graft.Models.Linear
    val ds = new DataSet(li, seed = 0)
    val elbo = model.elbo(ds, localThreshold = 0L)
    ds.trainCount
    elbo.optimize(maxiter = 2, minibatchSize = 65536, lr = 0.05) // warm
    for (spb <- Seq(1, 5, 15, 1, 5, 15)) {
      val t0 = System.nanoTime()
      elbo.optimize(maxiter = 30, minibatchSize = 65536, lr = 0.05,
        stepsPerBatch = spb)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"stepsPerBatch=$spb%2d  ${30 / s}%8.1f it/s  ($s%.3f s)")
    }
    // cost split: sample+collect vs pure local sub-step
    val vecs = ds.trainVectors(Seq("x", "y"))
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      val rows = vecs.sample(withReplacement = true,
        65536.0 / ds.trainCount, 1234).collect()
      val t1 = System.nanoTime()
      println(f"collect ${rows.length} rows: ${(t1 - t0) / 1e6}%.1f ms")
    }
    spark.stop()
  }
}
