package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StringType

/** URL canonicalization (RFC 3986 section 6 syntax-based
  * normalization) — the crawl-frontier dedup primitive: a 100 TB
  * crawl sees the same page as `HTTP://ExAmple.Com:80/a/../b#x` and
  * `http://example.com/b`, and every duplicate fetched is wasted
  * bandwidth, wasted storage, and a duplicate document the dedup
  * stages downstream must catch again. Canonicalizing at the
  * frontier is the cheap early win.
  *
  * Normalizations applied (each per the RFC unless noted):
  *   - strip the fragment (never sent to servers);
  *   - strip embedded tab/CR/LF and surrounding ASCII whitespace
  *     (WHATWG URL pre-processing);
  *   - lowercase scheme and host (ASCII only — IDN/punycode is out
  *     of scope, declared); strip a single trailing dot on the host
  *     (DNS root label);
  *   - drop the default port (http/ws 80, https/wss 443, ftp 21)
  *     and strip leading zeros from explicit ports;
  *   - percent-normalize path and query: decode escapes of
  *     unreserved characters (ALPHA / DIGIT / '-' '.' '_' '~'),
  *     uppercase the hex of all other escapes, leave invalid '%'
  *     sequences literal;
  *   - remove dot-segments ('.'/'..') from the path AFTER
  *     percent-decoding (so '%2E' counts as a dot segment);
  *   - empty path with an authority becomes "/"; an empty query
  *     ("?") is dropped.
  *
  * Deliberately NOT applied (they change semantics): query-parameter
  * sorting or tracking-parameter stripping, userinfo rewriting,
  * scheme upgrades. The function is total: null maps to null; input
  * without a valid scheme comes back trimmed but otherwise
  * untouched; non-hierarchical schemes (mailto:) get scheme
  * lowercasing only.
  *
  * Scale shape: a pure per-row string map — no shuffle.
  */
object Url {

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Decode unreserved escapes, uppercase the hex of reserved ones,
    * pass invalid escapes through literally. */
  private[ops] def pctNormalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (v < 128 && isUnreserved(v.toChar)) sb.append(v.toChar)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 section 5.2.4 on an already-split path. A trailing '.'
    * or '..' segment leaves a trailing slash, as the RFC algorithm
    * does. */
  private[ops] def removeDotSegments(p: String): String = {
    if (p.isEmpty || (p.indexOf("/.") < 0 && !p.startsWith("."))) return p
    val abs = p.startsWith("/")
    val segs = p.split("/", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val start = if (abs) 1 else 0
    var i = start
    val last = segs.length - 1
    while (i <= last) {
      val s = segs(i)
      if (s == ".") { if (i == last) out += "" }
      else if (s == "..") {
        if (out.nonEmpty) out.remove(out.length - 1)
        if (i == last) out += ""
      } else out += s
      i += 1
    }
    (if (abs) "/" else "") + out.mkString("/")
  }

  private def lowerAscii(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    sb.toString
  }

  private def defaultPort(scheme: String, port: String): Boolean =
    (port == "80" && (scheme == "http" || scheme == "ws")) ||
      (port == "443" && (scheme == "https" || scheme == "wss")) ||
      (port == "21" && scheme == "ftp")

  def canonicalize(url: String): String = {
    if (url == null) return null
    var s = {
      val t = url.trim
      if (t.indexOf('\t') < 0 && t.indexOf('\n') < 0 && t.indexOf('\r') < 0) t
      else t.filterNot(c => c == '\t' || c == '\n' || c == '\r')
    }
    val h = s.indexOf('#')
    if (h >= 0) s = s.substring(0, h)
    val ci = s.indexOf(':')
    if (ci <= 0) return s
    var i = 0
    var schemeOk = s.charAt(0).isLetter
    while (schemeOk && i < ci) {
      val c = s.charAt(i)
      schemeOk = c.isLetterOrDigit || c == '+' || c == '-' || c == '.'
      i += 1
    }
    if (!schemeOk) return s
    val scheme = lowerAscii(s.substring(0, ci))
    val rest0 = s.substring(ci + 1)
    if (!rest0.startsWith("//")) return scheme + ":" + rest0
    val rest = rest0.substring(2)
    var j = 0
    while (j < rest.length && rest.charAt(j) != '/' && rest.charAt(j) != '?')
      j += 1
    val auth = rest.substring(0, j)
    val pathAndQuery = rest.substring(j)
    val at = auth.lastIndexOf('@')
    val userinfo = if (at >= 0) auth.substring(0, at + 1) else ""
    val hostport = if (at >= 0) auth.substring(at + 1) else auth
    val rb = hostport.lastIndexOf(']') // IPv6 literal guard
    val pc = hostport.indexOf(':', rb + 1)
    val rawHost = if (pc >= 0) hostport.substring(0, pc) else hostport
    val rawPort = if (pc >= 0) hostport.substring(pc + 1) else ""
    var host = lowerAscii(rawHost)
    if (host.length > 1 && host.endsWith(".") && !host.endsWith(".."))
      host = host.substring(0, host.length - 1)
    val portNorm =
      if (rawPort.isEmpty || !rawPort.forall(c => c >= '0' && c <= '9')) {
        if (pc >= 0 && rawPort.nonEmpty) ":" + rawPort else ""
      } else {
        val np = rawPort.dropWhile(_ == '0')
        val p2 = if (np.isEmpty) "0" else np
        if (defaultPort(scheme, p2)) "" else ":" + p2
      }
    val qi = pathAndQuery.indexOf('?')
    val rawPath = if (qi >= 0) pathAndQuery.substring(0, qi) else pathAndQuery
    val rawQuery = if (qi >= 0) pathAndQuery.substring(qi + 1) else null
    var path = removeDotSegments(pctNormalize(rawPath))
    if (path.isEmpty) path = "/"
    val qNorm =
      if (rawQuery == null || rawQuery.isEmpty) ""
      else "?" + pctNormalize(rawQuery)
    scheme + "://" + userinfo + host + portNorm + path + qNorm
  }

  /** Host of a canonical (or any) URL — the robots/politeness
    * grouping key. Null-safe; "" when there is no authority. */
  def hostOf(url: String): String = {
    if (url == null) return null
    val ci = url.indexOf("://")
    if (ci < 0) return ""
    val rest = url.substring(ci + 3)
    var j = 0
    while (j < rest.length && rest.charAt(j) != '/' && rest.charAt(j) != '?')
      j += 1
    val auth = rest.substring(0, j)
    val at = auth.lastIndexOf('@')
    val hostport = if (at >= 0) auth.substring(at + 1) else auth
    val rb = hostport.lastIndexOf(']')
    val pc = hostport.indexOf(':', rb + 1)
    if (pc >= 0) hostport.substring(0, pc) else hostport
  }

  /** Path + query of a URL — the robots match target (RFC 9309
    * matches rules against path and query). "/" when absent. */
  def pathOf(url: String): String = {
    if (url == null) return null
    val ci = url.indexOf("://")
    if (ci < 0) return "/"
    val rest = url.substring(ci + 3)
    var j = 0
    while (j < rest.length && rest.charAt(j) != '/' && rest.charAt(j) != '?')
      j += 1
    val pq = rest.substring(j)
    if (pq.isEmpty) "/" else pq
  }

  /** Append the canonical form of `urlCol` as `outCol`. Batched
    * partition-local map, no shuffle. */
  def canonicalColumn(df: DataFrame, urlCol: String,
                      outCol: String = "canonical_url"): DataFrame = {
    val schema = df.schema.add(outCol, StringType)
    val ui = df.schema.fieldIndex(urlCol)
    df.mapPartitions { it =>
      it.map { row =>
        Row.fromSeq(row.toSeq :+ canonicalize(row.getString(ui)))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Append host and path+query columns of `urlCol` — the
    * (politeness-key, robots-target) split a frontier shards on. */
  def splitColumn(df: DataFrame, urlCol: String,
                  hostCol: String = "url_host",
                  pathCol: String = "url_path"): DataFrame = {
    val schema = df.schema.add(hostCol, StringType).add(pathCol, StringType)
    val ui = df.schema.fieldIndex(urlCol)
    df.mapPartitions { it =>
      it.map { row =>
        val u = row.getString(ui)
        Row.fromSeq(row.toSeq ++ Seq(hostOf(u), pathOf(u)))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
