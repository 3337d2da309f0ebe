package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.session(
      graft.ops.PlanHints.countFromEnv("SPARK_GRAFT_CPUS", 4))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written FIRST: if a wall-clock limit kills this JVM mid-dump, the
    // driver's compare still sees every query dumped so far — oracle SQL
    // last would zero the whole round on a timeout
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toVector.sortBy(_._1)
    // dump concurrently: each query is a small sf0.01 job, so serial
    // execution pays ~138× per-job latency; Spark's scheduler runs
    // concurrent jobs fine (FIFO across pools, separate output dirs)
    val par = graft.ops.PlanHints.countFromEnv("SPARK_GRAFT_VERIFY_PAR", 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    import scala.concurrent.{ExecutionContext, Future, Await}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val futs = todo.map { case (name, fn) =>
      Future {
        // NO CacheRegistry.drain() here: under the 4-way dump
        // concurrency a drain in one future races a sibling mid-query
        // (observed once: an unpersist landing between a builder's
        // persist and its consuming job emptied q_stats_winsorize's
        // output). The dump JVM exits right after, so leaked cache
        // blocks cost nothing; only the SERIAL harnesses (Bench,
        // ScaleProbe) drain per query.
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    futs.foreach(f => Await.ready(f, Duration.Inf))
    pool.shutdown()
    spark.stop()
  }
}
