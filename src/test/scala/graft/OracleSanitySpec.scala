package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's oracle SQL is well-formed: every query has a
  * non-empty SQL string, names are unique across the families, and a
  * constant renders with its value wherever it is declared. `Q` takes
  * its SQL by name and builds it on first use, after the enclosing
  * object has initialized; the zero-modulus scan below is the net for
  * an SQL string built eagerly again (a constant declared below its
  * first use would then render as 0, silently producing `% 0` (NULL)
  * or `// 0` in the SQL while the lazily-built Spark side stays
  * correct). */
class OracleSanitySpec extends AnyFunSuite {

  /** A query that splices a constant declared AFTER it. */
  private object LateConstant {
    val q = Q("q_late", (s, _) => s.range(1).toDF(),
      s"SELECT id % $Mod AS r FROM t")
    val Mod = 1000000007L
  }

  test("a query's SQL reads a constant declared after it in the same " +
    "object") {
    assert(LateConstant.q.sql == "SELECT id % 1000000007 AS r FROM t")
  }

  test("every oracle SQL string is non-empty") {
    val empty = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.trim.isEmpty => name }
    assert(empty.isEmpty, s"empty oracle SQL: ${empty.toSeq.sorted}")
  }

  test("no oracle SQL contains a zero modulus/divisor (a constant " +
    "rendered before its val initialized)") {
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("% 0 ") || sql.contains("% 0)") ||
        sql.endsWith("% 0") ||
        sql.contains("// 0 ") || sql.contains("// 0)") ||
        sql.endsWith("// 0")
    }
    assert(bad.isEmpty,
      s"zero-rendered constants in: ${bad.keys.toSeq.sorted.mkString(", ")}")
  }

  test("every query has oracle SQL and every oracle names a real query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"mismatch: ${((SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet) ++
        (SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet)).toSeq.sorted}")
  }

  test("query names are unique across the families, so the registry " +
    "merge drops none") {
    val families = Seq(OracleQueries.all, DedupQueries.all,
      EmbedQueries.all, TextQueries.all, MultimodalQueries.all,
      SamplingQueries.all, CurationQueries.all, StatsQueries.all,
      EventQueries.all)
    val dups = families.flatten.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == families.map(_.size).sum)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
