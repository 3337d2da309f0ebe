package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The local-mode session every main (Bench, Verify, tools, examples)
  * and the test suites run on: one place for the config they share. */
object LocalSpark {
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet ships TIMESTAMP(MICROS) (Events.load normalizes
      // whatever it finds); nanosAsLong stays on for any old NANOS
      // fixture and is a no-op on micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The graph fixpoints (CC / PageRank / label-prop) materialize
    // lazy localCheckpoints and release the previous round's cache
    // without blocking, so a straggler task can report its metric
    // accumulators after the owning SQLExecution already unregistered
    // them. Spark logs that as "ERROR DAGScheduler: Failed to update
    // accumulator ... non-existent accumulator" (AccumulatorContext
    // emits the WARN twin) — benign: the dropped update is
    // metrics-only and every oracle row matches with the race present.
    Configurator.setLevel("org.apache.spark.scheduler.DAGScheduler",
      Level.FATAL)
    Configurator.setLevel("org.apache.spark.util.AccumulatorContext",
      Level.ERROR)
    // Every Window in the library is partitioned by a real key except
    // eventPaths' share pass over its ≤ typesⁿ aggregated path matrix
    // (Catalyst folds its constant partition key, so WindowExec warns
    // as if a data-sized frame were collapsing) and
    // unimaxAllocation's water-filling windows over the post-agg
    // LANGUAGE grain (a handful of rows by definition). Those are
    // single-partition BY DESIGN.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec",
      Level.ERROR)
    spark
  }
}
