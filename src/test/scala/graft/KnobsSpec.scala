package graft

import graft.ops.PlanHints
import org.scalatest.funsuite.AnyFunSuite

/** Configuration hygiene: production paths read no JVM-global switch,
  * every environment knob is parsed in PlanHints, and a malformed
  * size or count knob fails with a message that names it. */
class KnobsSpec extends AnyFunSuite {

  /** `file:line` of every line under src/main/scala matching `read`,
    * in the files `scan` keeps (paths relative to src/main/scala). */
  private def reads(read: scala.util.matching.Regex,
                    scan: String => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val scanned = try walk.iterator().asScala.map(root.relativize(_).toString)
      .filter(rel => rel.endsWith(".scala") && scan(rel))
      .toList
    finally walk.close()
    // a wrong working directory must not pass vacuously
    assert(scanned.contains("graft/ops/Dedup.scala"))
    scanned.flatMap { rel =>
      val src = scala.io.Source.fromFile(root.resolve(rel).toFile, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined => s"$rel:${i + 1}"
      }.toList
      finally src.close()
    }
  }

  test("no production path reads a system property (examples/ and " +
    "tools/ mains may)") {
    val offenders = reads("sys\\.props|System\\.getPropert".r, rel =>
      !rel.startsWith("graft/examples/") && !rel.startsWith("graft/tools/"))
    assert(offenders.isEmpty, offenders.mkString("system property reads: ", ", ", ""))
  }

  test("no main or operator reads an environment variable outside the " +
    "PlanHints readers") {
    val offenders = reads("sys\\.env|System\\.getenv".r,
      _ != "graft/ops/PlanHints.scala")
    assert(offenders.isEmpty,
      offenders.mkString("environment reads: ", ", ", ""))
  }

  test("sfDirFromEnv and namesFromEnv: the default or None when unset, " +
    "the value when set") {
    assert(PlanHints.sfDirFromEnv(Map.empty).endsWith("/sf0.1"))
    assert(PlanHints.sfDirFromEnv(Map("SPARK_GRAFT_SF_DIR" -> "/d")) == "/d")
    val knob = "SPARK_GRAFT_TEST_ONLY"
    assert(PlanHints.namesFromEnv(knob, Map.empty).isEmpty)
    assert(PlanHints.namesFromEnv(knob, Map(knob -> "q_a, q_b ,q_c")) ==
      Some(Set("q_a", "q_b", "q_c")))
  }

  test("bytesFromEnv: default when unset, the value when well-formed, " +
    "and a named IllegalArgumentException otherwise") {
    val knob = "SPARK_GRAFT_TEST_BYTES"
    assert(PlanHints.bytesFromEnv(knob, 16L << 20, Map.empty) == (16L << 20))
    assert(PlanHints.bytesFromEnv(knob, 7L, Map(knob -> "0")) == 0L)
    assert(PlanHints.bytesFromEnv(knob, 7L, Map(knob -> "33554432")) == 33554432L)
    for (bad <- Seq("", "16MB", "1e6", "-1", " 5", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](
        PlanHints.bytesFromEnv(knob, 7L, Map(knob -> bad)))
      assert(e.getMessage.contains(knob), e.getMessage)
    }
  }

  test("countFromEnv (core and thread counts): default when unset, the " +
    "value when a positive Int, and a named IllegalArgumentException " +
    "on malformed, zero and negative values") {
    val knob = "SPARK_GRAFT_TEST_CPUS"
    assert(PlanHints.countFromEnv(knob, 32, Map.empty) == 32)
    assert(PlanHints.countFromEnv(knob, 4, Map(knob -> "1")) == 1)
    assert(PlanHints.countFromEnv(knob, 4, Map(knob -> "8")) == 8)
    // parsed only: no session or pool is started with these values
    for (bad <- Seq("", "four", "4.0", " 4", "0", "-1", "-32",
        "2147483648")) {
      val e = intercept[IllegalArgumentException](
        PlanHints.countFromEnv(knob, 4, Map(knob -> bad)))
      assert(e.getMessage.contains(knob), e.getMessage)
    }
  }
}
