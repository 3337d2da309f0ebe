package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO}

/** Animated-GIF frame walk + builder — the third REAL codec through
  * the [[FrameDecoder]] seam (after MJPEG-in-MP4 and AVI DIB/RLE8):
  * the JDK's ImageIO ships a native GIF reader AND writer, so both
  * the multi-frame decode and the fixture builder are honest
  * end-to-end LZW work, no stub anywhere.
  *
  * Frame semantics: ImageIO's GIF reader returns each image
  * descriptor's STORED raster, not the disposal-composited logical
  * screen — real-world GIFs with partial-frame optimization would
  * hash per stored region. The builders in this repo write
  * full-frame rasters (as does [[encodeAnimated]]), where the two
  * notions coincide; the hash contract is explicitly over stored
  * rasters. Format: GIF89a (CompuServe spec, public). */
object Gif {

  // ImageIO's default stream cache is DISK-backed: every
  // createImageInputStream/createImageOutputStream call creates,
  // writes, and deletes a temp file in java.io.tmpdir — one per
  // frame decode/encode, ~150k per multimodal bench query, and the
  // latency of each depends on filesystem state (r14 optimization
  // round: the decode query family swung 2–3× between host regimes
  // on identical code). Memory-cached streams are semantically
  // identical (the cache only provides seekability); outputs are
  // bit-for-bit the same.
  javax.imageio.ImageIO.setUseCache(false)

  /** Frame count plus the first min(count, maxFrames) frames of a
    * GIF stream, decoded in storage order. None for bytes that are
    * not a GIF stream at all; a decode failure on an IN-RANGE frame
    * THROWS (the [[FrameDecoder]] caller maps it to the
    * all-frames-or-nothing null) — frames past maxFrames are never
    * decoded, matching the "in-range frames only" contract of the
    * MJPEG/AVI decoders. */
  def readFrames(b: Array[Byte],
                 maxFrames: Int): Option[(Int, IndexedSeq[BufferedImage])] = {
    // the full 6-byte signature, GIF87a or GIF89a: the cached reader
    // below skips the registry sniff, and the JDK GIF reader throws on
    // any other version where a sniff would have answered "not a GIF"
    if (b == null || b.length < 6 ||
      b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
      (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(b))
    try {
      // per-thread cached GIF reader (r15, same rationale as
      // [[Codecs.cachedReader]]): the signature is already verified
      // above, so the registry sniff the stock path ran per clip is
      // redundant; reset (not dispose) restores construction state
      val r = Codecs.cachedReader("gif")
      if (r == null) return None
      try {
        r.setInput(iis)
        val n = r.getNumImages(true)
        Some((n, (0 until math.min(n, maxFrames)).map(r.read(_))))
      } finally r.reset()
    } finally iis.close()
  }

  /** Encode 8-bit gray rasters (row-major, w×h each) as ONE animated
    * GIF through the JDK GIF writer's write-to-sequence path — a
    * real LZW encode per frame, so the decode side exercises the
    * real inverse. `delayCs > 0` writes a Graphic Control Extension
    * per frame with that delay (centiseconds); `loop >= 0`
    * additionally writes the NETSCAPE2.0 application extension on
    * the first frame (0 = loop forever, the de-facto animation
    * convention). Deterministic for fixed inputs (the writer's
    * palette derivation is a pure function of the image color
    * model). */
  def encodeAnimated(w: Int, h: Int, frames: Seq[Array[Byte]],
                     delayCs: Int = 0, loop: Int = -1): Array[Byte] = {
    val writer = Codecs.cachedWriter("gif") // reset (not disposed) below
    val baos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.zipWithIndex.foreach { case (g, fi) =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        img.getRaster.setDataElements(0, 0, w, h, g)
        val param = writer.getDefaultWriteParam
        val meta: javax.imageio.metadata.IIOMetadata =
          if (delayCs <= 0 && (loop < 0 || fi > 0)) null
          else {
            val m = writer.getDefaultImageMetadata(
              new javax.imageio.ImageTypeSpecifier(img), param)
            val fmt = "javax_imageio_gif_image_1.0"
            val root = m.getAsTree(fmt)
              .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            if (delayCs > 0) {
              val gce = childNode(root, "GraphicControlExtension")
              gce.setAttribute("disposalMethod", "none")
              gce.setAttribute("userInputFlag", "FALSE")
              gce.setAttribute("transparentColorFlag", "FALSE")
              gce.setAttribute("transparentColorIndex", "0")
              gce.setAttribute("delayTime", delayCs.toString)
            }
            if (loop >= 0 && fi == 0) {
              val apps = childNode(root, "ApplicationExtensions")
              val app = new javax.imageio.metadata.IIOMetadataNode(
                "ApplicationExtension")
              app.setAttribute("applicationID", "NETSCAPE")
              app.setAttribute("authenticationCode", "2.0")
              app.setUserObject(Array[Byte](1,
                (loop & 0xff).toByte, ((loop >> 8) & 0xff).toByte))
              apps.appendChild(app)
            }
            m.setFromTree(fmt, root)
            m
          }
        writer.writeToSequence(new IIOImage(img, null, meta), param)
      }
      writer.endWriteSequence()
    } finally { writer.reset(); ios.close() }
    baos.toByteArray
  }

  private def childNode(
      root: javax.imageio.metadata.IIOMetadataNode,
      name: String): javax.imageio.metadata.IIOMetadataNode = {
    var n = root.getFirstChild
    while (n != null) {
      if (n.getNodeName == name)
        return n.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      n = n.getNextSibling
    }
    val fresh = new javax.imageio.metadata.IIOMetadataNode(name)
    root.appendChild(fresh)
    fresh
  }

  /** Parsed GIF container metadata. `durationMs` = Σ GCE delays ×
    * 10; `loop` = NETSCAPE2.0 loop count (−1 when absent; 0 = loop
    * forever). */
  final case class Meta(version: String, width: Int, height: Int,
                        nFrames: Int, nGce: Int, durationMs: Long,
                        loop: Int)

  /** Byte-level GIF87a/89a container walk (CompuServe spec, public):
    * header + logical screen descriptor, then the block stream —
    * 0x21 extensions (Graphic Control 0xF9 carries the LE16 delay;
    * application 0xFF "NETSCAPE2.0" carries the LE16 loop count),
    * 0x2C image descriptors (local color table + LZW data
    * sub-blocks SKIPPED structurally — no pixel decode here), 0x3B
    * trailer. None for non-GIF or structurally truncated bytes.
    * This is the metadata twin of [[readFrames]]' pixel path — the
    * same meta/decode split as the AVI family. */
  def parseMeta(b: Array[Byte]): Option[Meta] = {
    try {
      if (b == null || b.length < 13 ||
        b(0) != 'G' || b(1) != 'I' || b(2) != 'F') return None
      val version = new String(b, 3, 3, "US-ASCII")
      if (version != "87a" && version != "89a") return None
      def u8(o: Int): Int = b(o) & 0xff
      def le16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
      val width = le16(6)
      val height = le16(8)
      val packed = u8(10)
      var p = 13
      if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 7) + 1))
      var frames = 0
      var gce = 0
      var delayCs = 0L
      var loop = -1
      def skipSubBlocks(): Unit = {
        while (u8(p) != 0) p += 1 + u8(p)
        p += 1
      }
      var done = false
      while (!done) {
        u8(p) match {
          case 0x3b => done = true
          case 0x21 =>
            val label = u8(p + 1)
            p += 2
            if (label == 0xf9) {
              // GCE: one 4-byte sub-block (packed, delay LE16, tci)
              gce += 1
              delayCs += le16(p + 2)
              skipSubBlocks()
            } else if (label == 0xff) {
              val idLen = u8(p)
              val id = new String(b, p + 1, idLen, "US-ASCII")
              p += 1 + idLen
              if (id == "NETSCAPE2.0" && u8(p) >= 3 && u8(p + 1) == 1)
                loop = le16(p + 2)
              skipSubBlocks()
            } else skipSubBlocks()
          case 0x2c =>
            frames += 1
            val ipacked = u8(p + 9)
            p += 10
            if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 7) + 1))
            p += 1 // LZW minimum code size
            skipSubBlocks()
          case _ => return None // unknown block: structurally invalid
        }
      }
      if (frames == 0) None
      else Some(Meta(version, width, height, frames, gce,
        delayCs * 10L, loop))
    } catch { case _: Exception => None } // truncation → out of range
  }
}
