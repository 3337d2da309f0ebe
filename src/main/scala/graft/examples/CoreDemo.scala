package graft.examples

import breeze.linalg.DenseVector
import graft.core._
import graft.functions.Transforms

/** Minimal driver-side walkthrough of the parameter/variational API:
  * build a module tree, sample a posterior, compare MC vs analytic KL,
  * checkpoint to Parquet and restore. Run:
  * `sbt "runMain graft.examples.CoreDemo"`. */
object CoreDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session(2)

    val root = new Module
    val w = root.add("w", new Variational.Normal(Seq(3)))
    root.add("noise", new Param(Seq(1), transform = Transforms.positive,
      initMean = 0.5, initStddev = 0.05))
    w.qMu.assign(DenseVector(0.2, -0.4, 1.0))
    w.qSqrt.assign(DenseVector(-1.0, -1.0, -1.0))
    root.initialize()

    val rng = new scala.util.Random(0)
    val u = DenseVector.fill(3)(rng.nextGaussian())
    println(s"[demo] names=${root.sortedParams.map(_._1).mkString(",")}")
    println(s"[demo] sample=${w.sample(u)}")
    println(f"[demo] klAnalytic=${w.klAnalytic}%.6f klMc(1 draw)=${w.klMc(u)}%.6f")

    val path = java.nio.file.Files.createTempDirectory("ckpt").toString + "/m"
    Checkpoint.save(spark, root, path)
    val root2 = new Module
    root2.add("w", new Variational.Normal(Seq(3)))
    root2.add("noise", new Param(Seq(1), transform = Transforms.positive))
    Checkpoint.restore(spark, root2, path)
    val drift = root.sortedParams.zip(root2.sortedParams).map {
      case ((_, a), (_, b)) => breeze.linalg.norm(a.freeValue - b.freeValue)
    }.max
    println(f"[demo] checkpoint roundtrip max drift=$drift%.2e")
    spark.stop()
  }
}
