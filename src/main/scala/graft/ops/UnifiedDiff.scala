package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

/** Unified-diff build + apply — the commit grain of every code
  * corpus (a pipeline over repository history stores base blobs +
  * patches and must re-materialize files, count churn, and attribute
  * lines). Writer/reader pair on the repo's source discipline: the
  * builder computes a REAL line diff (LCS dynamic program, not a
  * head/tail trim), groups edits into `@@ -s,n +s,n @@` hunks with
  * `context` unchanged lines, and emits the `---`/`+++` file header;
  * the applier re-parses the hunks and verifies EVERY context and
  * deletion line against the base before committing any output —
  * a drifted base yields None, never a silently corrupt file.
  *
  * Scale shape: one (base, patch) pair per row, partition-local;
  * patches never shuffle ([[Multimodal]] has no role here — the ops
  * are plain per-row kernels used by q_source_diff). */
object UnifiedDiff {

  final case class Stats(hunks: Int, adds: Int, dels: Int)

  // ------------------------------------------------------------ build

  /** Longest-common-subsequence table walk → per-line ops:
    * ' ' keep, '-' delete, '+' insert (classic O(n·m) DP — file
    * grain, not corpus grain). */
  private def editScript(a: Vector[String], b: Vector[String])
      : Vector[(Char, String)] = {
    val n = a.length
    val m = b.length
    val dp = Array.ofDim[Int](n + 1, m + 1)
    var i = n - 1
    while (i >= 0) {
      var j = m - 1
      while (j >= 0) {
        dp(i)(j) =
          if (a(i) == b(j)) dp(i + 1)(j + 1) + 1
          else math.max(dp(i + 1)(j), dp(i)(j + 1))
        j -= 1
      }
      i -= 1
    }
    val out = Vector.newBuilder[(Char, String)]
    var x = 0
    var y = 0
    while (x < n && y < m) {
      if (a(x) == b(y)) { out += ((' ', a(x))); x += 1; y += 1 }
      else if (dp(x + 1)(y) >= dp(x)(y + 1)) {
        out += (('-', a(x))); x += 1
      } else { out += (('+', b(y))); y += 1 }
    }
    while (x < n) { out += (('-', a(x))); x += 1 }
    while (y < m) { out += (('+', b(y))); y += 1 }
    out.result()
  }

  /** Unified diff text for old → new ("" when identical). */
  def build(oldLines: Vector[String], newLines: Vector[String],
            context: Int = 3): String = {
    val script = editScript(oldLines, newLines)
    if (!script.exists(_._1 != ' ')) return ""
    // mark script indices that belong to a hunk (any change ± context)
    val changed = script.indices.filter(i => script(i)._1 != ' ')
    val keep = new Array[Boolean](script.length)
    changed.foreach { c =>
      var i = math.max(0, c - context)
      val e = math.min(script.length - 1, c + context)
      while (i <= e) { keep(i) = true; i += 1 }
    }
    val sb = new StringBuilder(script.length * 16)
    sb.append("--- a/file\n+++ b/file\n")
    var i = 0
    var oldPos = 1 // 1-based line cursors into old/new
    var newPos = 1
    while (i < script.length) {
      if (!keep(i)) {
        oldPos += 1; newPos += 1; i += 1
      } else {
        // one hunk: consecutive kept region
        var j = i
        var oldLen = 0
        var newLen = 0
        val body = new StringBuilder
        while (j < script.length && keep(j)) {
          val (op, line) = script(j)
          body.append(op).append(line).append('\n')
          if (op != '+') oldLen += 1
          if (op != '-') newLen += 1
          j += 1
        }
        // empty-side convention: start is the line BEFORE the hunk
        val os = if (oldLen == 0) oldPos - 1 else oldPos
        val ns = if (newLen == 0) newPos - 1 else newPos
        sb.append("@@ -").append(os).append(',').append(oldLen)
          .append(" +").append(ns).append(',').append(newLen)
          .append(" @@\n")
        sb.append(body)
        oldPos += oldLen
        newPos += newLen
        i = j
      }
    }
    sb.toString
  }

  // ------------------------------------------------------------ apply

  private val HunkHdr = """@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@.*""".r

  /** Parse hunks: (oldStart, oldLen, body-lines). */
  private def hunks(diff: String)
      : Option[Vector[(Int, Int, Vector[String])]] = {
    val lines = diff.split("\n", -1).toVector
    val out = Vector.newBuilder[(Int, Int, Vector[String])]
    var i = 0
    var sawHdr = false
    while (i < lines.length) {
      lines(i) match {
        case HunkHdr(os, ol, _, _) =>
          sawHdr = true
          val oldLen = if (ol == null) 1 else ol.toInt
          var j = i + 1
          val body = Vector.newBuilder[String]
          while (j < lines.length && lines(j).nonEmpty &&
            "+- \\".indexOf(lines(j).charAt(0)) >= 0) {
            if (lines(j).charAt(0) != '\\') body += lines(j)
            j += 1
          }
          out += ((os.toInt, oldLen, body.result()))
          i = j
        case l if l.startsWith("---") || l.startsWith("+++") ||
          l.isEmpty => i += 1
        case l if !sawHdr && !l.startsWith("@@") => i += 1 // preamble
        case _ => return None // garbage inside the hunk region
      }
    }
    Some(out.result())
  }

  /** Apply `diff` to `base`; None when any hunk's context or deletion
    * lines do not match the base (a real patch tool's reject). */
  def apply(base: Vector[String], diff: String)
      : Option[Vector[String]] = {
    if (diff.isEmpty) return Some(base)
    hunks(diff) match {
      case None => None
      case Some(hs) =>
        val out = Vector.newBuilder[String]
        var cursor = 0 // 0-based next-unconsumed base line
        var ok = true
        hs.foreach { case (os, oldLen, body) =>
          // "-N,0" means: insert AFTER base line N (0-based index N);
          // a non-empty range starts AT 1-based line N
          val start = math.max(0, if (oldLen == 0) os else os - 1)
          if (!ok || start < cursor || start > base.length) ok = false
          else {
            out ++= base.slice(cursor, start)
            cursor = start
            body.foreach { bl =>
              if (ok) {
                val op = bl.charAt(0)
                val line = bl.drop(1)
                op match {
                  case ' ' | '-' =>
                    if (cursor < base.length && base(cursor) == line) {
                      if (op == ' ') out += line
                      cursor += 1
                    } else ok = false
                  case '+' => out += line
                  case _ => ok = false
                }
              }
            }
            if (ok && cursor - start != oldLen) ok = false
          }
        }
        if (!ok || cursor > base.length) None
        else {
          out ++= base.slice(cursor, base.length)
          Some(out.result())
        }
    }
  }

  /** Hunk/churn stats straight off the patch text. */
  def stats(diff: String): Stats = {
    var h = 0; var a = 0; var d = 0
    diff.split("\n", -1).foreach { l =>
      if (l.startsWith("@@")) h += 1
      else if (l.startsWith("+") && !l.startsWith("+++")) a += 1
      else if (l.startsWith("-") && !l.startsWith("---")) d += 1
    }
    Stats(h, a, d)
  }

  def split(text: String): Vector[String] =
    if (text.isEmpty) Vector.empty else text.split("\n", -1).toVector

  /** Spark twin: per row, REALLY build the patch old → new, REALLY
    * re-apply it to old, and report the patch stats plus the
    * re-materialized text — the verification loop a commit-history
    * pipeline runs on every (base, patch) pair. Partition-local;
    * patch text never shuffles (it is consumed in the same map). */
  def diffApplyColumn(df: org.apache.spark.sql.DataFrame,
                      oldCol: String, newCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = df.schema
      .add("patched", StringType)
      .add("n_hunks", IntegerType, nullable = false)
      .add("n_adds", IntegerType, nullable = false)
      .add("n_dels", IntegerType, nullable = false)
      .add("patch_bytes", IntegerType, nullable = false)
    val oi = df.schema.fieldIndex(oldCol)
    val ni = df.schema.fieldIndex(newCol)
    df.mapPartitions { it =>
      it.map { row =>
        val oldLines = split(row.getString(oi))
        val d = build(oldLines, split(row.getString(ni)))
        val st = stats(d)
        val patched = apply(oldLines, d).map(_.mkString("\n")).orNull
        org.apache.spark.sql.Row.fromSeq(row.toSeq ++ Seq(patched,
          st.hunks, st.adds, st.dels, d.getBytes(UTF_8).length))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
