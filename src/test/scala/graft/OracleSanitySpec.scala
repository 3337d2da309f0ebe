package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards against the eager-init val-order trap: oracle SQL strings
  * are built when PipelineQueries initializes, so a constant `val`
  * defined BELOW its first oracle use renders as 0 — silently
  * producing `% 0` (NULL) or `// 0` in the SQL while the lazily-built
  * Spark side stays correct. Bit round 9 twice (ShufShards, then
  * CleanSumMod). */
class OracleSanitySpec extends AnyFunSuite {

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

  test("query names are unique across the three families, so the " +
    "registry merge drops none") {
    val families = Seq(OracleQueries.all, PipelineQueries.all, EventQueries.all)
    val dups = families.flatten.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == families.map(_.size).sum)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
