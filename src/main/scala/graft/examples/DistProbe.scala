package graft.examples

import graft.data.DataSet
import org.apache.spark.sql.functions._

/** Distributed-ELBO throughput probe: it/s of the forced-treeAggregate
  * path as a function of stepsPerBatch (the per-job scheduling/scan
  * amortization knob), then the cost of materializing one 65,536-row
  * minibatch on the driver two ways: `sample.collect()` of the row
  * vectors, and the block sample + collect + split into rows that a
  * fused `Elbo` group runs. Timed for the 2-column linear data and a
  * 17-column RFF projection of it. Run:
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
    // one minibatch to the driver: row vectors vs blocks
    val (w, b) = graft.gp.Rff.frequencies(1, 16,
      breeze.linalg.DenseVector(1.0), seed = 13L)
    val phis = graft.gp.RffGpr.featureCols(Seq(col("x")), w, b)
    val rffCols = phis.indices.map(j => s"phi$j") :+ "y"
    val rff = ds.data.select(phis.zipWithIndex.map { case (p, j) =>
      p.as(s"phi$j") } :+ col("y"): _*)
    val rffDs = new DataSet(rff, seed = 0)
    for ((name, d, cols) <- Seq(("linear", ds, Seq("x", "y")),
                                ("rff", rffDs, rffCols))) {
      val frac = 65536.0 / d.trainCount
      // persisted, so this times sampling a cached per-row vector RDD
      val vecs = d.trainVectors(cols)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count()
      def ms(f: => Int): (Int, Double) = {
        val t0 = System.nanoTime(); val n = f
        (n, (System.nanoTime() - t0) / 1e6)
      }
      d.localTrain(cols) // builds the block cache
      // interleaved, so JIT warm-up and host noise fall on both alike
      val runs = (1 to 7).map(s => (
        ms(vecs.sample(withReplacement = true, frac, 1234L + s)
          .collect().length),
        ms(DataSet.allRows(d.sampleBlocks(cols, training = true, frac,
          1234L + s).collect(), cols.length).length)))
      val (rowsMs, blockMs) = runs.unzip
      for (((n, r), (m, bl)) <- runs) {
        require(n == m, s"row and block samples differ: $n vs $m rows")
        println(f"$name%-6s ${cols.length}%2d cols  $n rows: " +
          f"sample.collect $r%6.1f ms  blocks $bl%6.1f ms")
      }
      def med(xs: Seq[(Int, Double)]) = xs.map(_._2).sorted.apply(xs.length / 2)
      println(f"$name%-6s median of 7: sample.collect ${med(rowsMs)}%.1f ms  " +
        f"blocks ${med(blockMs)}%.1f ms")
      vecs.unpersist()
    }
    spark.stop()
  }
}
