package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one fresh JVM: set up, run a cold pass, then
  * warm passes until the measured time is used up, and write every raw
  * figure to `<out>/result.json` (statistics are taken by run.py).
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * cpus, out, and per workload data (query data dir and query list) or
  * train (generated inputs dir plus the reference values the checks
  * use). */
object Harness {
  /** Wall clock of a block, in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val out = Paths.get(args("out"))
    Files.createDirectories(out)

    val tracer = new Tracer(trace)
    val rec = new Record
    val spark = tracer.span("setup.spark") {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.default.parallelism", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val ledger = if (trace) {
      val l = new Ledger; spark.sparkContext.addSparkListener(l); Some(l)
    } else None

    val ctx = Ctx(spark, tracer, rec, ledger, seed, seconds, jvmStartMs, out)
    try {
      workload match {
        case "curate" =>
          new QueryWorkload(ctx, args("data"), args("queries").split(",").toSeq)
            .run()
        case "oracle_sql" =>
          val sql = graft.SparkEntry.oracleSql
          args("queries").split(",").foreach { q =>
            rec.op(sql.contains(q), s"$q: no oracle SQL")
            rec.check(q, Map("sql" -> sql.getOrElse(q, "")))
          }
        case "train" => new TrainWorkload(ctx, args).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (trace && workload == "curate") Kernels.codecs(rec, tracer)
    } catch {
      case e: Throwable =>
        rec.fail(s"run: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.layer("peak_rss_mb", peakRssMb())
    tracer.write(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("result.json"), rec.json)
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, rec: Record,
                     ledger: Option[Ledger], seed: Long, seconds: Double,
                     jvmStartMs: Long, out: Path) {
  /** Setup ends here: process start to ready, in seconds. */
  def ready(): Unit = {
    rec.e2e("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    liveHeap()
  }

  /** Traced runs: heap still in use after a full collection, in MB,
    * recorded after set-up and after every pass (off the clock). Unlike
    * the peak RSS, it does not depend on when the collector chose to
    * run. */
  def liveHeap(): Unit = if (tracer.enabled) {
    // the second collection also frees what Spark's ContextCleaner and
    // the asynchronous unpersists released after the first
    System.gc()
    Thread.sleep(300L)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    rec.appendSeries("mem.live_heap_mb", used / 1048576.0)
  }

  /** Warm passes: at least [[Ctx.MinWarmPasses]], then more until
    * `seconds` have passed since the first began. Returns their count. */
  def warmPasses(pass: Int => Unit): Int = {
    val start = System.nanoTime()
    var n = 0
    while (n < Ctx.MinWarmPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      pass(1 + n); n += 1
    }
    n
  }

  /** Ledger figures over one window of work, divided by the number of
    * passes or steps the body returns, recorded as `<prefix>.jobs` etc.;
    * task durations go to the series `<prefix>.task_s`. */
  def ledgerWindow(prefix: String)(body: => Int): Unit = ledger match {
    case None => body
    case Some(l) =>
      val a = l.settle()
      val n = math.max(1, body).toDouble
      val b = l.settle()
      rec.layer(s"$prefix.jobs", (b.jobs - a.jobs) / n)
      rec.layer(s"$prefix.stages", (b.stages - a.stages) / n)
      rec.layer(s"$prefix.tasks", (b.tasks - a.tasks) / n)
      rec.layer(s"$prefix.task_cpu_s", (b.taskCpuNs - a.taskCpuNs) / 1e9 / n)
      rec.layer(s"$prefix.task_gc_s", (b.taskGcMs - a.taskGcMs) / 1e3 / n)
      rec.layer(s"$prefix.shuffle_write_mb",
        (b.shuffleWrite - a.shuffleWrite) / 1048576.0 / n)
      rec.layer(s"$prefix.shuffle_read_mb",
        (b.shuffleRead - a.shuffleRead) / 1048576.0 / n)
      rec.layer(s"$prefix.spill_mb", (b.spill - a.spill) / 1048576.0 / n)
      rec.series(s"$prefix.task_s", l.durationsSince(a).map(_ / 1e3))
  }
}

object Ctx {
  /** One warm pass after the cold one: 22 runs of each workload, with
    * set-up and the cold pass, must fit the run budget, and a second
    * warm pass cost a run about 10 s (see README). */
  val MinWarmPasses = 1
}

/** Everything a run measured, written as one JSON document:
  * end-to-end scalars and series, per-layer scalars and series, the
  * operation counts and the failures with their reasons. */
final class Record {
  private val e2eVals = mutable.LinkedHashMap.empty[String, Any]
  private val layerVals = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def e2e(k: String, v: Any): Unit = e2eVals(k) = v
  def layer(k: String, v: Any): Unit = layerVals(k) = v
  def check(k: String, v: Any): Unit = checks(k) = v
  def series(k: String, v: Seq[Double]): Unit = layerVals(k) = v
  def appendSeries(k: String, v: Double): Unit = layerVals(k) =
    layerVals.getOrElse(k, Vector.empty[Double]).asInstanceOf[Seq[Double]] :+ v
  def op(ok: Boolean, why: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(why)
  }
  def fail(why: String): Unit = {
    failed += 1
    if (errors.length < 50) errors += why
  }
  def json: String = Json.obj("attempted" -> attempted, "failed" -> failed,
    "errors" -> errors.toSeq, "e2e" -> e2eVals, "layers" -> layerVals,
    "checks" -> checks)
}
