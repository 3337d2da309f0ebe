package graft.ops

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Mojibake detection and repair — the encoding-damage pass of web
  * text curation (CCNet/ftfy territory): UTF-8 bytes that were
  * misdecoded as Latin-1 somewhere upstream and re-encoded read as
  * "Ã©" where "é" was meant. The repair inverts the misdecode: take
  * the text's Latin-1 bytes; if that byte string is (a) lossless
  * (every char was ≤ U+00FF, so the bytes ARE the original stream)
  * and (b) structurally valid UTF-8 with at least one multi-byte
  * sequence, reinterpret it as UTF-8. Applied iteratively (bounded)
  * because double-encoded text — mojibake of mojibake — is common in
  * multi-hop pipelines; each pass strictly shortens the string, so
  * the loop terminates on its own even without the bound.
  *
  * The heuristic's false-positive surface is text that LEGITIMATELY
  * spells a valid-UTF-8 byte pattern in Latin-1 chars (e.g. a
  * literal "Ã©" about mojibake) — inherent to every repair of this
  * family and the reason the pass reports per-row pass counts for
  * auditing instead of fixing silently.
  *
  * Scale shape: pure per-row byte work behind a partition-local
  * batched map ([[fixColumn]]); strings never shuffle for this. */
object Mojibake {

  /** One repair pass: Some(reinterpreted) when the text is Latin-1-
    * lossless and its byte image is valid UTF-8 that differs from
    * the input; None otherwise. */
  def fixOnce(s: String): Option[String] = {
    if (s == null) return None
    val lat = s.getBytes(ISO_8859_1)
    // lossless = no char above U+00FF (getBytes substitutes '?')
    if (!losslessLatin1(s)) None
    else if (!Sniff.structuralUtf8(lat)) None
    else {
      val cand = new String(lat, UTF_8)
      if (cand == s) None else Some(cand)
    }
  }

  private def losslessLatin1(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) > 0xff) return false
      i += 1
    }
    true
  }

  /** Iterated repair: (fixed text, passes applied). */
  def fix(s: String, maxPasses: Int = 3): (String, Int) = {
    var cur = s
    var n = 0
    var going = true
    while (going && n < maxPasses) {
      fixOnce(cur) match {
        case Some(better) => cur = better; n += 1
        case None => going = false
      }
    }
    (cur, n)
  }

  /** Append `fixedCol` (repaired text) and `passesCol` (0 = clean)
    * to a text column. Batched partition-local map. */
  def fixColumn(df: DataFrame, textCol: String,
                fixedCol: String = "fixed",
                passesCol: String = "moji_passes"): DataFrame = {
    val schema = df.schema.add(fixedCol, StringType)
      .add(passesCol, IntegerType, nullable = false)
    val ti = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.map { row =>
        val (fixed, n) = fix(row.getString(ti))
        Row.fromSeq(row.toSeq ++ Seq(fixed, n))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
