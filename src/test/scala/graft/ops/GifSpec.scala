package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** GIF container metadata ([[Gif.parseMeta]]) against the builder
  * ([[Gif.encodeAnimated]]): parameter round-trip incl. GCE delays
  * and the NETSCAPE2.0 loop extension, structural-garbage totality,
  * and meta/decode consistency on the same bytes. */
class GifSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int, v: Int): Array[Byte] =
    Array.fill[Byte](w * h)(v.toByte)

  test("parseMeta round-trips dims, frame count, per-frame GCE " +
    "delays, and the NETSCAPE loop count written by encodeAnimated") {
    val b = Gif.encodeAnimated(48, 32,
      Seq(gray(48, 32, 40), gray(48, 32, 80), gray(48, 32, 120)),
      delayCs = 7, loop = 2)
    val m = Gif.parseMeta(b).get
    assert(m.version == "89a")
    assert(m.width == 48 && m.height == 32)
    assert(m.nFrames == 3 && m.nGce == 3)
    assert(m.durationMs == 3 * 7 * 10L)
    assert(m.loop == 2)
    // loop 0 = forever is representable and distinct from absent
    val f = Gif.encodeAnimated(8, 8, Seq(gray(8, 8, 1)),
      delayCs = 4, loop = 0)
    assert(Gif.parseMeta(f).get.loop == 0)
  }

  test("parseMeta is total: non-GIF bytes, truncation mid-stream, " +
    "and zero-frame streams all yield None — never a throw") {
    assert(Gif.parseMeta(null).isEmpty)
    assert(Gif.parseMeta(Array[Byte](1, 2, 3)).isEmpty)
    val good = Gif.encodeAnimated(16, 16,
      Seq(gray(16, 16, 10), gray(16, 16, 20)), delayCs = 5, loop = 1)
    assert(Gif.parseMeta(good).isDefined)
    val cut = java.util.Arrays.copyOf(good, good.length / 3)
    assert(Gif.parseMeta(cut).isEmpty)
  }

  test("metadata and frame decode agree on the same bytes: nFrames " +
    "== readFrames count, and GCE-carrying clips still decode") {
    val b = Gif.encodeAnimated(32, 32,
      Seq(gray(32, 32, 60), gray(32, 32, 200)), delayCs = 9, loop = 0)
    val m = Gif.parseMeta(b).get
    val (n, fs) = Gif.readFrames(b, 10).get
    assert(m.nFrames == n && fs.size == 2)
    // solid frames decode to solid pixels (palettization exact)
    assert((fs(0).getRGB(5, 5) & 0xff) == 60)
    assert((fs(1).getRGB(5, 5) & 0xff) == 200)
  }

  test("readFrames checks the whole GIF87a/GIF89a signature: a GIFxx " +
    "payload is None, not a decoder throw") {
    val b = Gif.encodeAnimated(8, 8, Seq(gray(8, 8, 30)))
    assert(Gif.readFrames(b, 10).isDefined)
    val bad = b.clone()
    bad(3) = 'x'; bad(4) = 'x'
    assert(Gif.readFrames(bad, 10).isEmpty)
    assert(Gif.readFrames("GIFxxxx".getBytes("US-ASCII"), 10).isEmpty)
  }
}
