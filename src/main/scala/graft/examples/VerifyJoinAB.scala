package graft.examples

import graft.ops.Entity
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The τ=2 verify join of q_dedup_entity_tau2 at `$SPARK_GRAFT_SF_DIR`
  * (default sf0.1): the verified-edge subplan (candidatePairsSplit2 +
  * [[Entity.verifiedEdges]]) over the dirty-customer fixture. This
  * stage runs eagerly inside the CC closure, so the registered
  * queries' plan dumps never show it.
  *
  *  - default: times the subplan as `resolveWith` runs it (size-gated
  *    `shuffle_hash` hint) against the stock planner choice (hints
  *    disabled), alternating, min-of-3 each. Below the gate both arms
  *    plan the same broadcast; above it the contest is SHJ vs SMJ.
  *  - `plan <file>`: writes the subplan's formatted physical plan, as
  *    `resolveWith` runs it, to `<file>`.
  *
  * Usage: `runMain graft.examples.VerifyJoinAB [plan <file>]` */
object VerifyJoinAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session(32)
    val rec = graft.PipelineQueries.dirtyCustomers(spark, sfDir)
    // the input to the size gate in Entity.verifiedEdges
    val nameBytes = rec.select(col("rid"), col("name"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    println(s"names stats sizeInBytes = $nameBytes")
    // built per use: hints resolve while the frame is analyzed, so the
    // disableHints conf must be set before the frame exists
    def verified() = Entity.verifiedEdges(
      Entity.candidatePairsSplit2(rec, "rid", "key", Seq("nat", "seg")),
      rec, "rid", "name", (a, b) => levenshtein(a, b) <= 2)
    args.toSeq match {
      case Seq("plan", file) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
          verified().queryExecution.explainString(FormattedMode))
        println(s"wrote $file")
      case Seq() =>
        def run(tag: String, hints: Boolean): Unit = {
          spark.conf.set("spark.sql.optimizer.disableHints", !hints)
          val t0 = System.nanoTime()
          verified().write.format("noop").mode("overwrite").save()
          println(f"verify[$tag]: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
        run("warmup", hints = true)
        for (_ <- 1 to 3) {
          run("stock", hints = false)
          run("gated", hints = true)
        }
      case _ =>
        throw new IllegalArgumentException(
          "usage: VerifyJoinAB [plan <file>]")
    }
    spark.stop()
  }
}
