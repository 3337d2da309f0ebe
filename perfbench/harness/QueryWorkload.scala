package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** `curate`: every listed query collected once per pass,
  * in an order the seed permutes afresh for each pass.
  *
  * Checks: the cold pass's collected rows are written out as Parquet
  * for run.py to compare with DuckDB's evaluation of the query's oracle
  * SQL; every later pass must return the same multiset of rows as the
  * cold pass (compared by a digest of the sorted canonical rows). */
final class QueryWorkload(ctx: Ctx, dir: String, names: Seq[String]) {
  import ctx._

  def run(): Unit = {
    val registry = tracer.span("setup.registry") {
      val (q, s) = Harness.timed(graft.SparkEntry.queries)
      rec.layer("registry.init_s", s)
      q
    }
    val oracle = graft.SparkEntry.oracleSql
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    tracer.span("setup.inputs") {
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).foreach(f => spark.read.parquet(f.getPath).schema)
    }
    ready()

    val rng = new scala.util.Random(seed)
    val digests = scala.collection.mutable.Map.empty[String, String]
    val firstRows = scala.collection.mutable.LinkedHashMap
      .empty[String, (Array[Row], StructType)]

    /** One pass; returns (wall s, process cpu s). */
    def pass(index: Int): (Double, Double) = {
      val order = rng.shuffle(names)
      val cpu0 = Harness.cpuNs()
      val (_, wall) = Harness.timed(tracer.span("pass") {
        order.foreach { name =>
          tracer.span("query") {
            try {
              val t0 = System.nanoTime()
              val df: DataFrame =
                tracer.span("build")(registry(name)(spark, dir))
              val t1 = System.nanoTime()
              val rows = tracer.span("exec")(df.collect())
              val t2 = System.nanoTime()
              if (index > 0) { // per-query series cover warm passes only
                rec.appendSeries(s"q.${name}_s", (t2 - t0) / 1e9)
                if (tracer.enabled) {
                  val ph = df.queryExecution.tracker.phases
                  val plan = Seq("analysis", "optimization", "planning")
                    .flatMap(ph.get).map(_.durationMs).sum / 1e3
                  rec.appendSeries(s"q.$name.build_s", (t1 - t0) / 1e9)
                  rec.appendSeries(s"q.$name.plan_s", plan)
                  rec.appendSeries(s"q.$name.exec_s", (t2 - t1) / 1e9)
                }
              }
              val d = QueryWorkload.digest(rows)
              if (index == 0) {
                digests(name) = d
                firstRows(name) = (rows, df.schema)
                rec.op(ok = true)
              } else rec.op(digests.get(name).contains(d),
                s"$name: pass $index rows differ from the first pass")
            } catch {
              case e: Throwable =>
                rec.op(ok = false, s"$name: ${e.getClass.getName}: ${e.getMessage}")
            } finally graft.core.CacheRegistry.drain()
          }
        }
      })
      val cpu = (Harness.cpuNs() - cpu0) / 1e9
      if (tracer.enabled)
        rec.appendSeries("spark.cached_mb",
          Ledger.cachedBytes(spark.sparkContext) / 1048576.0)
      ctx.liveHeap()
      (wall, cpu)
    }

    rec.e2e("first_pass_s", pass(0)._1)
    // the cold pass's rows go to Parquet for the oracle compare
    firstRows.foreach { case (name, (rows, schema)) =>
      val path = out.resolve("results").resolve(name).toString
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      rec.check(name, Map("path" -> path, "rows" -> rows.length,
        "sql" -> oracle.getOrElse(name, "")))
    }
    firstRows.clear()

    val walls = Vector.newBuilder[Double]
    val cpus = Vector.newBuilder[Double]
    ctx.ledgerWindow("spark")(ctx.warmPasses { i =>
      val (w, c) = pass(i)
      walls += w; cpus += c
    })
    rec.e2e("pass_s", walls.result())
    rec.e2e("cpu_s", cpus.result())
  }
}

object QueryWorkload {
  /** Canonical text of one value: exact doubles, bytes in hex, nested
    * rows and arrays element by element, maps in key order. */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case o => o.toString
  }

  /** Order-free digest of a result: SHA-256 over the sorted rows. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}
