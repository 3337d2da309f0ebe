package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: train the variational Bayesian linear regression (the
    * reference's Henbun_structure2 demo) on sf0.001 for a short budget
    * and return the posterior summary — one row per model parameter. */
  def entry(spark: SparkSession): DataFrame = {
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"),
        ((col("l_extendedprice") / 10000.0 - 3.8) / 2.5).as("y"))
    val model = new Models.Linear
    val last = model.elbo(new graft.data.DataSet(li, seed = 0))
      .optimize(maxiter = 60, lr = 0.1)
    import spark.implicits._
    model.root.variationals.map { case (n, v) =>
      (n, v.qMu.value(0), math.exp(v.qSqrt.value(0)), last)
    }.toDF("param", "post_mean", "post_scale", "elbo")
  }
  /** Every registered query, family by family: one entry per
    * implemented operator from SURVEY.md §2 (+ the beyond-reference
    * pipeline operators). */
  private[graft] def registry: Seq[Q] =
    OracleQueries.all ++ DedupQueries.all ++ EmbedQueries.all ++
      TextQueries.all ++ MultimodalQueries.all ++ SamplingQueries.all ++
      CurationQueries.all ++ StatsQueries.all ++ EventQueries.all
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.spark).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.sql).toMap
}
