package graft.examples

import graft.{LocalSpark, SparkEntry}

/** Prints formatted physical plans for representative queries — the
  * scale checklist: column-pruned scans (ReadSchema), pushed filters,
  * wide WholeStageCodegen spans, broadcast joins where one side is
  * model-sized. Run: `sbt "runMain graft.examples.ExplainDemo [names…]"`. */
object ExplainDemo {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_dens_gaussian", "q_kern_rbf", "q_embed_top1",
        "q_dedup_minhash", "q_lse")
    val spark = LocalSpark.session(4)
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .explain("formatted")
    }
    spark.stop()
  }
}
