package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark form over a table
  * directory, and its DuckDB oracle SQL. The SQL is taken by name and
  * built once, on first use, so a constant it splices may be declared
  * anywhere in the enclosing object. Every family follows the
  * [[OracleQueries]] conventions: grouped aggregates, ORDER BY,
  * round(…, 5), and SQL generated from the same constants the Scala
  * operators use. */
final class Q(val name: String,
              val spark: (SparkSession, String) => DataFrame,
              sqlText: => String) {
  lazy val sql: String = sqlText
}

object Q {
  def apply(name: String, spark: (SparkSession, String) => DataFrame,
            sql: => String): Q = new Q(name, spark, sql)
}
