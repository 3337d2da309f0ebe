package graft.tools

import graft.{LocalSpark, SparkEntry}
import graft.core.CacheRegistry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** One probe main for looking at registered queries, in three modes:
  *
  *  - `time`: N rounds over the query list, alternating its order each
  *    round so neither end of the list always runs warm (or always
  *    runs first after a contended stretch); prints every run and each
  *    query's min.
  *  - `explain`: the formatted physical plan of each query, unexecuted
  *    (the form committed under `plans/`).
  *  - `audit`: runs each query so AQE settles its plan, then prints the
  *    recompute amplification ([[PlanAudit.amplified]]) and the
  *    executed plan's codegen stages, its [[PlanStats.shape]] counts
  *    (scans, exchanges, join strategies, windows) and scan read
  *    schemas (column pruning).
  *
  * Queries are a comma list of registered names, or `all`. The data
  * dir is `$SPARK_GRAFT_SF_DIR` (default sf0.1) and the core count
  * `$SPARK_GRAFT_CPUS` (default 32), as for `graft.Bench`. With a log
  * file, every printed line is also written there.
  *
  * Usage: `runMain graft.tools.Probe time <q_a,q_b|all> [N = 3] [log-file]`
  * or `runMain graft.tools.Probe <explain|audit> <q_a,q_b|all> [log-file]` */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time <q_a,q_b|all> [N] [log-file] | " +
      "Probe <explain|audit> <q_a,q_b|all> [log-file]"
    require(args.length >= 2, usage)
    val mode = args(0)
    // N is read only in time mode, so explain/audit take the log file third
    val (rounds, logPath) = mode match {
      case "time" =>
        require(args.length <= 4, usage)
        (args.lift(2).fold(3)(_.toInt), args.lift(3))
      case "explain" | "audit" =>
        require(args.length <= 3, usage)
        (0, args.lift(2))
      case _ => throw new IllegalArgumentException(
        s"unknown mode '$mode' (time, explain or audit); $usage")
    }
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val log = logPath.map(p => new java.io.PrintWriter(p, "UTF-8"))
    def out(line: String): Unit = { println(line); log.foreach(_.println(line)) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try {
      val spark = LocalSpark.session(
        graft.ops.PlanHints.countFromEnv("SPARK_GRAFT_CPUS", 32))
      try run(spark, sfDir, mode, names, rounds, out) finally spark.stop()
    } finally log.foreach(_.close())
  }

  private def run(spark: SparkSession, sfDir: String, mode: String,
      names: Seq[String], rounds: Int, out: String => Unit): Unit = {
    val queries = SparkEntry.queries
    def each(name: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable => out(s"== $name: ERROR $e") }
      finally CacheRegistry.drain()
    mode match {
      case "time" =>
        queries("q_dens_gaussian")(spark, sfDir).count() // untimed warmup
        val times = scala.collection.mutable.Map.empty[String, List[Double]]
        for (round <- 1 to rounds) {
          val order = if (round % 2 == 1) names else names.reverse
          order.foreach { q =>
            each(q) {
              val t0 = System.nanoTime()
              queries(q)(spark, sfDir).count()
              val s = (System.nanoTime() - t0) / 1e9
              times(q) = s :: times.getOrElse(q, Nil)
              out(f"$q run$round: $s%.3f s")
            }
          }
        }
        names.filter(times.contains).foreach(q =>
          out(f"$q min-of-${times(q).size}: ${times(q).min}%.3f s"))
      case "explain" =>
        names.foreach(q => each(q) {
          out(s"== $q")
          out(queries(q)(spark, sfDir).queryExecution
            .explainString(FormattedMode))
        })
      case "audit" =>
        names.foreach(q => each(q) {
          val df = queries(q)(spark, sfDir)
          df.collect() // let AQE finalize the executed plan
          val plan = df.queryExecution.executedPlan.toString
          // AQE's simple string renders codegen stages as "*(n) Op"
          val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
          val shape = PlanStats.shape(plan).filter(_._2 > 0)
            .map { case (col, n) => s"$col=$n" }.mkString(" ")
          out(s"== $q: wsc=$wsc $shape " +
            s"amplified=${PlanAudit.amplified(df)}")
          "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
            .foreach(m => out(s"   scan: ${m.group(1)}"))
        })
    }
  }
}
