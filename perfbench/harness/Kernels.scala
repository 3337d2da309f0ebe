package perfbench

import graft.ops.{Codecs, Flac, FrameDecoder, Gif, Mp4}

/** Single-threaded timings of kernel layers on fixed inputs, called
  * through their public functions (traced runs only). Each figure is
  * a series of timed rounds over the whole payload set, after an
  * untimed round; run.py reports its median. */
object Kernels {
  /** Milliseconds per payload of `decode` over `payloads`. */
  def perPayloadMs(payloads: Seq[Array[Byte]], rounds: Int)
                  (decode: Array[Byte] => Any): Seq[Double] = {
    var sink = 0
    def round(): Double = {
      val t0 = System.nanoTime()
      payloads.foreach(p => if (decode(p) != null) sink += 1)
      (System.nanoTime() - t0) / 1e6 / payloads.length
    }
    round()
    val r = (0 until rounds).map(_ => round())
    require(sink > 0)
    r
  }

  private def grayPattern(w: Int, h: Int, k: Int): Array[Byte] = {
    val rgb = new Array[Byte](3 * w * h)
    var i = 0
    while (i < w * h) {
      val x = i % w; val y = i / w
      val v = (((x / 8) * 37 + (y / 8) * 11 + k * 29) % 256).toByte
      rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
      i += 1
    }
    rgb
  }

  /** codec.image_ms, codec.gif_ms, codec.audio_ms, codec.frame_ms. */
  def codecs(rec: Record, tracer: Tracer): Unit = tracer.span("kernels.codec") {
    val images = (0 until 32).map(k => Codecs.encodeJpeg(64, 64, grayPattern(64, 64, k)))
    val gifs = (0 until 32).map { k =>
      Gif.encodeAnimated(48, 32, (0 until 3).map { f =>
        grayPattern(48, 32, k + f).grouped(3).map(_(0)).toArray
      }, delayCs = 5, loop = 0)
    }
    val audio = (0 until 16).map { k =>
      Flac.encode(16000, Array.tabulate(4096)(i =>
        (8000 * math.sin(2 * math.Pi * (220 + 40 * k) * i / 16000.0)).toInt))
    }
    val clips = (0 until 16).map { k =>
      Mp4.buildMjpeg(90000L, 3000L, 64, 64,
        (0 until 3).map(f => Codecs.encodeJpeg(64, 64, grayPattern(64, 64, k + f))))
    }
    val mjpeg = FrameDecoder.forCodec("mjpeg")
    rec.series("codec.image_ms", tracer.span("codec.image")(
      perPayloadMs(images, 5)(b => Codecs.decodeImage(b).orNull)))
    rec.series("codec.gif_ms", tracer.span("codec.gif")(
      perPayloadMs(gifs, 5)(b => Gif.readFrames(b, 8).orNull)))
    rec.series("codec.audio_ms", tracer.span("codec.audio")(
      perPayloadMs(audio, 5)(b => Flac.decode(b).orNull)))
    rec.series("codec.frame_ms", tracer.span("codec.frame")(
      perPayloadMs(clips, 5)(b => mjpeg.decodeBatch(Array(b), 3)(0))))
  }

  /** tape.row_ns: nanoseconds per row of the compiled tape's value and
    * gradient, over a fixed block of generated rows. */
  def tapeRowNs(tape: graft.autodiff.CompiledExpr, theta: Array[Double],
                nDraws: Int, nIn: Int): Seq[Double] = {
    val r = new scala.util.Random(7L)
    val rows = Array.fill(8192)(Array.fill(nIn)(r.nextGaussian()))
    val draws = Array.fill(nDraws)(r.nextGaussian())
    val vals = tape.newValues; val adj = tape.newValues
    val grad = new Array[Double](theta.length)
    var sink = 0.0
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) {
        sink += tape.evalGradFast(rows(i), theta, draws, vals, adj, grad)
        i += 1
      }
      (System.nanoTime() - t0).toDouble / rows.length
    }
    (0 until 5).foreach(_ => round())
    val ns = (0 until 15).map(_ => round())
    require(!sink.isNaN)
    ns
  }
}
