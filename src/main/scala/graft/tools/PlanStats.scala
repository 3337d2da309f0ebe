package graft.tools

/** One-line plan-shape stats for EVERY registered query: parquet scan
  * count, Exchange count, join strategy counts — the optimization
  * round's triage table (a query whose plan scans the same input many
  * times is recomputing subtrees; see guide §7.2 "duplicated
  * subtrees"). Writes plans/<tag>/PLANSTATS.tsv.
  *
  * Usage: `runMain graft.tools.PlanStats <tag>` */
object PlanStats {
  /** Column name → plan-text pattern, in PLANSTATS.tsv column order. */
  private val ShapeCols = Seq(
    "scans" -> "Scan parquet", "exchanges" -> "Exchange",
    "bhj" -> "BroadcastHashJoin", "smj" -> "SortMergeJoin",
    "shj" -> "ShuffledHashJoin", "bnl" -> "BroadcastNestedLoopJoin",
    "windows" -> "Window")

  /** Occurrence count of each shape column's operator in a plan string
    * (formatted explain here, the executed plan in `Probe audit`). */
  def shape(plan: String): Seq[(String, Int)] =
    ShapeCols.map { case (col, p) => col -> p.r.findAllIn(plan).length }

  def main(args: Array[String]): Unit = {
    // no default tag: a bare run must not overwrite a committed round
    require(args.length == 1,
      "usage: PlanStats <tag>  (writes plans/<tag>/PLANSTATS.tsv)")
    val tag = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session(4)
    val sb = new StringBuilder
    sb.append(("query" +: ShapeCols.map(_._1)).mkString("\t") + "\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append((name +: shape(txt).map(_._2.toString)).mkString("\t") + "\n")
      } catch { case e: Throwable =>
        sb.append(s"$name\tERR\t${e.getClass.getSimpleName}\n")
      } finally graft.core.CacheRegistry.drain()
    }
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("PLANSTATS.tsv"),
      sb.toString)
    println(s"wrote plans/$tag/PLANSTATS.tsv")
    spark.stop()
  }
}
