package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSpark.session(4)
}
