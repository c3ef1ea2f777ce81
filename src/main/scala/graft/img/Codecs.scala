package graft.img

import java.util.zip.{CRC32, Deflater, Inflater}

/** Minimal, allocation-lean PNG + BMP codecs for 8-bit RGB.
  *
  * Why not javax.imageio: every `ImageIO.write/read` call does a
  * synchronized service-registry lookup and (by default) a disk-backed
  * stream cache — measured as the scalability ceiling of the tile pipeline
  * at 32 threads on 16×16 tiles. These codecs touch no shared state, so the
  * tile kernel scales with cores. ImageIO remains in the test suite as an
  * independent decode oracle (CodecsSpec cross-checks both directions).
  *
  * PNG: colorType 2 (RGB8), filter 0 scanlines, one IDAT, Deflater
  * BEST_SPEED. Decoder handles bit-depth-8 color types 2 (RGB) and 6
  * (RGBA, alpha stripped) with all five scanline filters.
  * BMP: BI_RGB 24bpp bottom-up (the classic Windows 3.x layout ImageIO
  * also emits); decoder handles 24 and 32 bpp.
  */
object Codecs {

  // Deflater/Inflater hold native zlib streams; creating one per call means
  // a native malloc/free per tile — measured as an 8→32-thread scaling
  // collapse (glibc arena contention) on the 250k-tile bench. Thread-local
  // reuse keeps the native state hot and contention-free.
  private val deflaters = ThreadLocal.withInitial[Deflater](() => new Deflater(Deflater.BEST_SPEED))
  private val inflaters = ThreadLocal.withInitial[Inflater](() => new Inflater())

  // ———————————————————————— PNG ————————————————————————

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  // per-thread scratch for PNG scanline assembly (hot tile path — avoids a
  // raw-buffer allocation per encode; grown on demand, max 64×64 RGB here)
  private val scanScratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16 * 1024))

  def encodePng(pixels: Array[Int], w: Int, h: Int): Array[Byte] =
    encodePngRegion(pixels, w, 0, 0, w, h)

  /** Encode a w×h window of a srcW-wide pixel buffer starting at (x0, y0) —
    * the tile hot path encodes straight from the pyramid level buffer with
    * no intermediate crop copy.
    *
    * `level`: zlib level for IDAT. BEST_SPEED (1, default) compresses ~3.6x
    * on typical tiles; 0 (stored blocks) is ~6.5x faster per tile — a
    * CPU-vs-storage knob for tile farms where the sink is cheap.
    */
  // per-thread scratch for the deflated IDAT body (exact-size output array
  // is assembled in ONE final copy — no ByteArrayOutputStream growth chains
  // in the tile hot path)
  private val compScratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16 * 1024))

  def encodePngRegion(pixels: Array[Int], srcW: Int, x0: Int, y0: Int, w: Int, h: Int,
      level: Int = Deflater.BEST_SPEED): Array[Byte] = {
    // 1. scanlines into thread-local scratch
    val rawLen = h * (1 + 3 * w)
    var raw = scanScratch.get()
    if (raw.length < rawLen) {
      raw = new Array[Byte](Integer.highestOneBit(rawLen) * 2)
      scanScratch.set(raw)
    }
    var y = 0; var o = 0
    while (y < h) {
      raw(o) = 0 // filter: None
      o += 1
      var src = (y0 + y) * srcW + x0
      val end = src + w
      while (src < end) {
        val p = pixels(src)
        raw(o) = (p >>> 16).toByte; raw(o + 1) = (p >>> 8).toByte; raw(o + 2) = p.toByte
        o += 3; src += 1
      }
      y += 1
    }
    // 2. deflate into thread-local scratch (grow on demand)
    val d = deflaters.get()
    d.setLevel(level) // applied by the following reset
    d.reset()
    d.setInput(raw, 0, rawLen); d.finish()
    var comp = compScratch.get()
    var compLen = 0
    while (!d.finished()) {
      if (compLen == comp.length) {
        comp = java.util.Arrays.copyOf(comp, comp.length * 2)
        compScratch.set(comp)
      }
      compLen += d.deflate(comp, compLen, comp.length - compLen)
    }
    // 3. assemble the exact-size PNG in one pass
    val total = 8 + (12 + 13) + (12 + compLen) + 12
    val out = new Array[Byte](total)
    System.arraycopy(PngSig, 0, out, 0, 8)
    var p = 8
    def be(v: Int): Unit = {
      out(p) = (v >>> 24).toByte; out(p + 1) = (v >>> 16).toByte
      out(p + 2) = (v >>> 8).toByte; out(p + 3) = v.toByte
      p += 4
    }
    def chunk(tag: String, body: Array[Byte], bodyLen: Int): Unit = {
      be(bodyLen)
      val tagStart = p
      out(p) = tag.charAt(0).toByte; out(p + 1) = tag.charAt(1).toByte
      out(p + 2) = tag.charAt(2).toByte; out(p + 3) = tag.charAt(3).toByte
      p += 4
      System.arraycopy(body, 0, out, p, bodyLen)
      p += bodyLen
      val crc = new CRC32()
      crc.update(out, tagStart, 4 + bodyLen)
      be(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type RGB
    chunk("IHDR", ihdr, 13)
    chunk("IDAT", comp, compLen)
    chunk("IEND", Array.emptyByteArray, 0)
    out
  }

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) | ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length > 8 && (0 until 8).forall(i => bytes(i) == PngSig(i))

  def decodePng(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    require(isPng(bytes), "not a PNG")
    var pos = 8
    var w = 0; var h = 0; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && pos + 8 <= bytes.length) {
      val len = be32(bytes, pos)
      // corrupt chunk lengths are the decoder's worst inputs: a negative
      // len would walk `pos` BACKWARD (infinite loop — a measured fuzz
      // hang), an oversized one reads past the buffer
      require(len >= 0 && pos.toLong + 12 + len <= bytes.length,
        s"corrupt PNG chunk length $len at $pos")
      val tag = new String(bytes, pos + 4, 4, "US-ASCII")
      tag match {
        case "IHDR" =>
          w = be32(bytes, pos + 8); h = be32(bytes, pos + 12)
          require(w > 0 && h > 0 && w.toLong * h <= Jpeg.MaxDecodePixels,
            s"PNG dimensions ${w}x$h out of range")
          val bitDepth = bytes(pos + 16) & 0xFF
          colorType = bytes(pos + 17) & 0xFF
          require(bitDepth == 8, s"unsupported bit depth $bitDepth")
          require(colorType == 2 || colorType == 6, s"unsupported color type $colorType")
          require((bytes(pos + 20) & 0xFF) == 0, "interlaced PNG unsupported")
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunk — skip
      }
      pos += 12 + len
    }
    require(w > 0 && h > 0, "PNG has no IHDR")
    val bpp = if (colorType == 6) 4 else 3
    val stride = 1 + bpp * w
    val rawLenL = stride.toLong * h
    require(rawLenL <= Int.MaxValue - 8, s"PNG raw scanline size $rawLenL out of range")
    val rawLen = rawLenL.toInt
    // the ThreadLocal scratch only grows for COMMON sizes; an oversized
    // frame gets a one-off exact allocation so a single huge-but-legal
    // file can neither overflow the pow2 sizing (highestOneBit*2 went
    // negative above 2^30) nor pin a GiB of scratch on an executor
    // thread forever
    var raw = scanScratch.get()
    if (raw.length < rawLen) {
      if (rawLen <= (1 << 24)) {
        raw = new Array[Byte](Integer.highestOneBit(math.max(rawLen, 1)) * 2)
        scanScratch.set(raw)
      } else raw = new Array[Byte](rawLen)
    }
    java.util.Arrays.fill(raw, 0, rawLen, 0.toByte)
    val inf = inflaters.get()
    inf.reset()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (!inf.finished() && off < rawLen) {
        val n = inf.inflate(raw, off, rawLen - off)
        // n == 0 without being finished covers BOTH truncation
        // (needsInput) and a preset-dictionary demand — either way the
        // stream can make no progress and looping would hang
        if (n == 0 && !inf.finished())
          throw new java.io.IOException("truncated or unsupported IDAT stream")
        off += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new java.io.IOException(s"corrupt IDAT deflate data: ${e.getMessage}")
    }
    // unfilter in place, scanline by scanline
    val px = new Array[Int](w * h)
    val prev = new Array[Byte](bpp * w)
    val cur = new Array[Byte](bpp * w)
    var y = 0
    while (y < h) {
      val f = raw(y * stride) & 0xFF
      System.arraycopy(raw, y * stride + 1, cur, 0, bpp * w)
      f match {
        case 0 => ()
        case 1 => // Sub
          var i = bpp
          while (i < cur.length) { cur(i) = (cur(i) + cur(i - bpp)).toByte; i += 1 }
        case 2 => // Up
          var i = 0
          while (i < cur.length) { cur(i) = (cur(i) + prev(i)).toByte; i += 1 }
        case 3 => // Average
          var i = 0
          while (i < cur.length) {
            val a = if (i >= bpp) cur(i - bpp) & 0xFF else 0
            val b = prev(i) & 0xFF
            cur(i) = (cur(i) + ((a + b) >> 1)).toByte; i += 1
          }
        case 4 => // Paeth
          var i = 0
          while (i < cur.length) {
            val a = if (i >= bpp) cur(i - bpp) & 0xFF else 0
            val b = prev(i) & 0xFF
            val c = if (i >= bpp) prev(i - bpp) & 0xFF else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            cur(i) = (cur(i) + pred).toByte; i += 1
          }
        case other => throw new java.io.IOException(s"bad filter $other")
      }
      var x = 0
      while (x < w) {
        val o = x * bpp
        px(y * w + x) = ((cur(o) & 0xFF) << 16) | ((cur(o + 1) & 0xFF) << 8) | (cur(o + 2) & 0xFF)
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      y += 1
    }
    (px, w, h)
  }

  // ———————————————————————— BMP ————————————————————————

  def encodeBmp(pixels: Array[Int], w: Int, h: Int): Array[Byte] = {
    val rowSize = (3 * w + 3) & ~3
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def le16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte }
    def le32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte
      out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataSize); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h)
    le16(26, 1); le16(28, 24)
    le32(34, dataSize)
    var y = 0
    while (y < h) {
      val srcRow = h - 1 - y // bottom-up
      var o = 54 + y * rowSize
      var x = 0
      while (x < w) {
        val p = pixels(srcRow * w + x)
        out(o) = p.toByte; out(o + 1) = (p >>> 8).toByte; out(o + 2) = (p >>> 16).toByte
        o += 3; x += 1
      }
      y += 1
    }
    out
  }

  def isBmp(bytes: Array[Byte]): Boolean =
    bytes.length > 54 && bytes(0) == 'B' && bytes(1) == 'M'

  def decodeBmp(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    require(isBmp(bytes), "not a BMP")
    def le32(o: Int): Int =
      (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
        ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24)
    def le16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    val dataOff = le32(10)
    val hdrSize = le32(14)
    val w = le32(18)
    val hRaw = le32(22)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    val bpp = le16(28)
    require(hdrSize >= 40 && (bpp == 24 || bpp == 32) && le32(30) == 0,
      s"unsupported BMP variant (hdr=$hdrSize bpp=$bpp comp=${le32(30)})")
    // corrupt headers must fail loudly, not index out of bounds or
    // allocate gigabytes: dims bounded by the shared decode budget, and
    // the full pixel region must lie inside the buffer
    require(w > 0 && h > 0 && w.toLong * h <= Jpeg.MaxDecodePixels,
      s"BMP dimensions ${w}x$h out of range")
    val bytesPerPx = bpp / 8
    val rowSize = (bytesPerPx * w + 3) & ~3
    require(dataOff >= 54 && dataOff.toLong + rowSize.toLong * h <= bytes.length,
      s"BMP pixel data (offset $dataOff, ${rowSize}x$h) overruns the file")
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcY = if (topDown) y else h - 1 - y
      var o = dataOff + srcY * rowSize
      var x = 0
      while (x < w) {
        px(y * w + x) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) | ((bytes(o + 2) & 0xFF) << 16)
        o += bytesPerPx; x += 1
      }
      y += 1
    }
    (px, w, h)
  }

  // ———————————————————————— dispatch ————————————————————————

  def encode(pixels: Array[Int], w: Int, h: Int, fmt: String): Array[Byte] = fmt match {
    case "png" => encodePng(pixels, w, h)
    case "bmp" => encodeBmp(pixels, w, h)
    case "jpeg" | "jpg" => Jpeg.encode(pixels, w, h) // lossy: PSNR≥40dB, not equality
    case "gif" => Gif.encode(pixels, w, h) // palette: requires <= 256 distinct colors
    case other => throw new IllegalArgumentException(s"unsupported fmt $other")
  }

  def decode(bytes: Array[Byte]): (Array[Int], Int, Int) =
    if (isPng(bytes)) decodePng(bytes)
    else if (isBmp(bytes)) decodeBmp(bytes)
    else if (Jpeg.isJpeg(bytes)) Jpeg.decode(bytes)
    else if (Gif.isGif(bytes)) Gif.decode(bytes)
    else throw new java.io.IOException("unknown image container")
}
