package graft.img

/** From-scratch FLAC codec (mono + stereo, 16-bit) — the free lossless audio format
  * per its public specification (RFC 9639 / xiph.org stream format). With
  * this, every NON-PERCEPTUAL audio format in [[Multimodal]] is a real
  * codec (PCM WAV, IMA-ADPCM WAV, FLAC); mp3/aac stay out of scope
  * permanently (perceptual codecs need psychoacoustic model tables and
  * external decoders this container doesn't ship — documented stub).
  *
  * Encoder: STREAMINFO (with unencoded-PCM MD5 per spec §8.2) + fixed-
  * blocksize frames; per block the subframe is chosen among CONSTANT,
  * VERBATIM, and FIXED predictors of order 0-4 (spec §9.2.2, minimum
  * sum-of-|residual|), residuals Rice-coded (4-bit parameter, partition
  * order 0, escape to raw when Rice loses). Piecewise-linear signals
  * (the synth corpus) land on order-2 with near-zero residuals — real
  * compression, pinned in CodecsSpec.
  *
  * Stereo: [[encodeStereo]] picks the cheapest per-frame decorrelation
  * (independent / left-side / side-right / mid-side, 17-bit side
  * subframes); [[decodeMulti]] inverts all four assignments.
  *
  * Decoder: full mono/stereo-16 subset — CONSTANT / VERBATIM / FIXED 0-4
  * AND LPC subframes (so streams from other encoders decode too), 4-bit
  * and 5-bit Rice methods, any partition order, wasted bits, both
  * blocking strategies; CRC-8 (poly 0x07) on every frame header, CRC-16
  * (poly 0x8005) on every frame, and the STREAMINFO MD5 verified over
  * the decoded (interleaved) stream. Truncation and corruption fail
  * loudly (IAE), never hang or over-allocate.
  */
object Flac {

  final val MaxDecodeSamples: Long = 1L << 26 // 64 Mi samples = 128 MiB PCM

  // ——— bit I/O (MSB-first, as the spec reads) ———

  private final class BitWriter {
    private var buf = new Array[Byte](1024)
    private var len = 0
    private var cur = 0L
    private var nbits = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    def writeBits(v: Long, n: Int): Unit = {
      require(n >= 0 && n <= 57, s"writeBits n=$n")
      cur = (cur << n) | (v & ((1L << n) - 1))
      nbits += n
      while (nbits >= 8) {
        ensure(1)
        buf(len) = ((cur >>> (nbits - 8)) & 0xFF).toByte
        len += 1
        nbits -= 8
      }
    }
    /** FLAC unary: q zero bits then a one bit. */
    def writeUnary(q: Int): Unit = {
      var r = q
      while (r >= 32) { writeBits(0, 32); r -= 32 }
      writeBits(1L, r + 1)
    }
    def alignByte(): Unit = if (nbits > 0) writeBits(0, 8 - nbits)
    def position: Int = { require(nbits == 0, "unaligned"); len }
    def toArray: Array[Byte] = { require(nbits == 0, "unaligned"); java.util.Arrays.copyOf(buf, len) }
  }

  private final class BitReader(bytes: Array[Byte], start: Int) {
    private var pos = start // byte position
    private var cur = 0L
    private var nbits = 0
    def bytePos: Int = pos - (nbits >> 3)
    private def fill(n: Int): Unit = {
      while (nbits < n) {
        if (pos >= bytes.length) throw new IllegalArgumentException("FLAC: truncated stream")
        cur = (cur << 8) | (bytes(pos) & 0xFFL)
        pos += 1
        nbits += 8
      }
    }
    def readBits(n: Int): Long = {
      require(n >= 0 && n <= 56, s"readBits n=$n")
      if (n == 0) return 0L
      fill(n)
      val v = (cur >>> (nbits - n)) & ((1L << n) - 1)
      nbits -= n
      v
    }
    def readSigned(n: Int): Long = {
      val v = readBits(n)
      if (n == 0) 0L else (v << (64 - n)) >> (64 - n)
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0) {
        q += 1
        if (q > (1 << 24)) throw new IllegalArgumentException("FLAC: runaway unary code")
      }
      q
    }
    def alignByte(): Unit = { nbits -= nbits % 8 }
  }

  // ——— CRCs (spec §9.1/§9.3: CRC-8 poly 0x07, CRC-16 poly 0x8005, init 0) ———

  private val Crc8Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) { c = if ((c & 0x80) != 0) (c << 1) ^ 0x07 else c << 1; k += 1 }
    c & 0xFF
  }
  private val Crc16Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i << 8
    var k = 0
    while (k < 8) { c = if ((c & 0x8000) != 0) (c << 1) ^ 0x8005 else c << 1; k += 1 }
    c & 0xFFFF
  }
  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table(c ^ (b(i) & 0xFF)); i += 1 }
    c
  }
  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc16Table(((c >> 8) ^ (b(i) & 0xFF)) & 0xFF) ^ ((c << 8) & 0xFFFF); i += 1 }
    c & 0xFFFF
  }

  // ——— coded number (spec §9.1.5: UTF-8-style, up to 36 bits) ———

  private def writeCodedNumber(w: BitWriter, v0: Long): Unit = {
    require(v0 >= 0 && v0 < (1L << 36), s"coded number out of range: $v0")
    if (v0 < 0x80) { w.writeBits(v0, 8); return }
    // capacity of an n-byte coded number is 5n+1 bits (n=2..6), 36 at n=7
    var nBytes = 2
    while (nBytes < 7 && v0 >= (1L << (5 * nBytes + 1))) nBytes += 1
    // header byte: nBytes leading ones, a zero, then the high payload bits
    val payloadBitsInHead = if (nBytes == 7) 0 else 8 - nBytes - 1
    val contBits = 6 * (nBytes - 1)
    val head = ((0xFF << (8 - nBytes)) & 0xFF) | ((v0 >>> contBits) & ((1 << payloadBitsInHead) - 1)).toInt
    w.writeBits(head.toLong, 8)
    var k = nBytes - 2
    while (k >= 0) {
      w.writeBits(0x80L | ((v0 >>> (6 * k)) & 0x3F), 8)
      k -= 1
    }
  }

  private def readCodedNumber(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var ones = 0
    while (ones < 8 && ((b0 << ones) & 0x80) != 0) ones += 1
    if (ones < 2 || ones > 7) throw new IllegalArgumentException(s"FLAC: bad coded-number head $b0")
    var v = if (ones == 7) 0L else (b0 & ((1 << (8 - ones - 1)) - 1)).toLong
    var k = 1
    while (k < ones) {
      val c = r.readBits(8).toInt
      if ((c & 0xC0) != 0x80) throw new IllegalArgumentException("FLAC: bad coded-number continuation")
      v = (v << 6) | (c & 0x3F)
      k += 1
    }
    v
  }

  // ——— fixed predictors (spec §9.2.4) ———

  /** residual of fixed order `o` at index i (i >= o). */
  @inline private def fixedResidual(x: Array[Int], i: Int, o: Int): Long = (o: @annotation.switch) match {
    case 0 => x(i)
    case 1 => x(i).toLong - x(i - 1)
    case 2 => x(i).toLong - 2L * x(i - 1) + x(i - 2)
    case 3 => x(i).toLong - 3L * x(i - 1) + 3L * x(i - 2) - x(i - 3)
    case 4 => x(i).toLong - 4L * x(i - 1) + 6L * x(i - 2) - 4L * x(i - 3) + x(i - 4)
  }

  @inline private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  // ——— encoder ———

  /** Encode mono 16-bit PCM as a FLAC stream (STREAMINFO + frames). */
  def encode(samples: Array[Short], sampleRate: Int, blockSize: Int = 4096): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"sampleRate=$sampleRate")
    require(blockSize >= 16 && blockSize <= 65535, s"blockSize=$blockSize")
    // mirror the decode budget: never emit a stream our own decoder refuses
    require(samples.length <= MaxDecodeSamples,
      s"FLAC: ${samples.length} samples exceeds codec budget $MaxDecodeSamples")
    val md5 = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val le = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        le(2 * i) = (samples(i) & 0xFF).toByte
        le(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      d.digest(le)
    }
    val frames = new java.io.ByteArrayOutputStream()
    var minFrame = Int.MaxValue
    var maxFrame = 0
    var frameIdx = 0L
    var off = 0
    while (off < samples.length || (samples.length == 0 && frameIdx == 0)) {
      val n = math.min(blockSize, samples.length - off)
      if (n > 0) {
        val fb = encodeFrame(samples, off, n, frameIdx, blockSize, sampleRate)
        frames.write(fb)
        minFrame = math.min(minFrame, fb.length)
        maxFrame = math.max(maxFrame, fb.length)
        frameIdx += 1
        off += n
      } else off = samples.length + 1 // empty stream: no frames
      if (samples.length == 0) frameIdx = 1
    }
    if (minFrame == Int.MaxValue) { minFrame = 0 }
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO, last-metadata-block flag set, length 34
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new BitWriter
    si.writeBits(blockSize.toLong, 16) // min block size
    si.writeBits(blockSize.toLong, 16) // max block size
    si.writeBits(minFrame.toLong, 24)
    si.writeBits(maxFrame.toLong, 24)
    si.writeBits(sampleRate.toLong, 20)
    si.writeBits(0L, 3) // channels - 1 (mono)
    si.writeBits(15L, 5) // bits per sample - 1 (16)
    si.writeBits(samples.length.toLong, 36)
    val siB = si.toArray
    out.write(siB, 0, siB.length)
    out.write(md5, 0, 16)
    frames.writeTo(out)
    out.toByteArray
  }

  private def encodeFrame(samples: Array[Short], off: Int, n: Int, frameIdx: Long,
      nominalBlock: Int, sampleRate: Int): Array[Byte] = {
    val x = new Array[Int](n)
    var i = 0
    while (i < n) { x(i) = samples(off + i); i += 1 }
    encodeFrameMulti(Array((x, 16)), n, frameIdx, 0)
  }

  /** Minimum Σ|residual| over fixed orders 0-4 — the subframe predictor
    * choice AND the stereo-decorrelation cost estimate (spec §A.4 idea).
    */
  private def bestFixedOrder(x: Array[Int], n: Int): (Int, Long) = {
    var bestO = 0
    var bestSum = Long.MaxValue
    var o = 0
    while (o <= 4 && o < n) {
      var s = 0L
      var j = o
      while (j < n) { s += math.abs(fixedResidual(x, j, o)); j += 1 }
      if (s < bestSum) { bestSum = s; bestO = o }
      o += 1
    }
    (bestO, bestSum)
  }

  /** One frame: header with the given channel assignment, then one
    * subframe per entry of `chans` (samples, effective bits — side
    * channels carry bits+1 per spec §9.1.3), then CRC-16.
    */
  private def encodeFrameMulti(chans: Array[(Array[Int], Int)], n: Int,
      frameIdx: Long, chanAssign: Int): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(0x3FFE, 14) // sync
    w.writeBits(0, 1) // reserved
    w.writeBits(0, 1) // fixed-blocksize strategy → coded number = frame index
    // block size code: standard power if it matches, else 16-bit-at-end
    val bsCode =
      if (n == 192) 1
      else if (n >= 576 && Integer.bitCount(n / 576) == 1 && n % 576 == 0 && n / 576 <= 8)
        2 + Integer.numberOfTrailingZeros(n / 576)
      else if (n >= 256 && Integer.bitCount(n / 256) == 1 && n % 256 == 0 && n / 256 <= 128)
        8 + Integer.numberOfTrailingZeros(n / 256)
      else 7 // 16-bit value - 1 follows header
    w.writeBits(bsCode.toLong, 4)
    w.writeBits(0L, 4) // sample rate: from STREAMINFO
    w.writeBits(chanAssign.toLong, 4)
    w.writeBits(4L, 3) // sample size: 16 bit (stream bits; side subframes +1)
    w.writeBits(0L, 1) // reserved
    writeCodedNumber(w, frameIdx)
    if (bsCode == 7) w.writeBits((n - 1).toLong, 16)
    // CRC-8 over the header so far
    val headBytes = { w.alignByte(); w.toArray } // header is byte-aligned here by construction
    val c8 = crc8(headBytes, 0, headBytes.length)
    w.writeBits(c8.toLong, 8)
    chans.foreach { case (x, bits) => writeSubframe(w, x, n, bits) }
    w.alignByte()
    val body = w.toArray
    val c16 = crc16(body, 0, body.length)
    val outB = java.util.Arrays.copyOf(body, body.length + 2)
    outB(body.length) = ((c16 >> 8) & 0xFF).toByte
    outB(body.length + 1) = (c16 & 0xFF).toByte
    outB
  }

  /** Subframe at an arbitrary bit depth: constant / fixed 0-4 with
    * partitioned Rice / verbatim, whichever is smallest.
    */
  private def writeSubframe(w: BitWriter, x: Array[Int], n: Int, bits: Int): Unit = {
    val mask = (1L << bits) - 1
    var const = true
    var i = 1
    while (i < n && const) { if (x(i) != x(0)) const = false; i += 1 }
    if (const) {
      w.writeBits(0L, 1); w.writeBits(0L, 6); w.writeBits(0L, 1) // CONSTANT, no wasted bits
      w.writeBits(x(0).toLong & mask, bits)
    } else {
      // pick the fixed order with minimum Σ|residual|
      val (bestO, _) = bestFixedOrder(x, n)
      val res = new Array[Long](n - bestO)
      var j = bestO
      while (j < n) { res(j - bestO) = fixedResidual(x, j, bestO); j += 1 }
      // partitioned Rice (spec §9.2.7): the largest partition order ≤ 6
      // that divides the block — per-partition parameters isolate the
      // occasional large residual (signal peaks) from the near-zero runs,
      // which is where fixed-predictor compression actually comes from
      var po = 6
      while (po > 0 && (n % (1 << po) != 0 || (n >> po) <= bestO)) po -= 1
      val nParts = 1 << po
      // per-partition: best rice param (or raw escape), and its bit cost
      val partParam = new Array[Int](nParts) // -1 = escape
      val partEsc = new Array[Int](nParts)
      var fixedBody = 0L
      var part = 0
      var base = 0
      while (part < nParts) {
        val count = (n >> po) - (if (part == 0) bestO else 0)
        var bestP = 0
        var bestBits = Long.MaxValue
        var p = 0
        while (p <= 14) {
          var bits = 0L
          var k = 0
          while (k < count && bits < (1L << 40)) {
            bits += (zigzag(res(base + k)) >>> p) + 1 + p
            k += 1
          }
          if (bits < bestBits) { bestBits = bits; bestP = p }
          p += 1
        }
        var maxAbsBits = 1
        var k = 0
        while (k < count) {
          val nb = (65 - java.lang.Long.numberOfLeadingZeros(math.abs(res(base + k)))).toInt
          if (nb > maxAbsBits) maxAbsBits = nb
          k += 1
        }
        val rawBits = 5L + count.toLong * maxAbsBits
        if (rawBits < bestBits) {
          partParam(part) = -1; partEsc(part) = maxAbsBits; fixedBody += 4 + rawBits
        } else {
          partParam(part) = bestP; fixedBody += 4 + bestBits
        }
        base += count
        part += 1
      }
      val verbatimBits = n.toLong * bits
      val fixedTotal = bestO.toLong * bits + 2 + 4 + fixedBody
      if (verbatimBits < fixedTotal) {
        w.writeBits(0L, 1); w.writeBits(1L, 6); w.writeBits(0L, 1) // VERBATIM
        var m = 0
        while (m < n) { w.writeBits(x(m).toLong & mask, bits); m += 1 }
      } else {
        w.writeBits(0L, 1); w.writeBits(8L + bestO, 6); w.writeBits(0L, 1) // FIXED order o
        var m = 0
        while (m < bestO) { w.writeBits(x(m).toLong & mask, bits); m += 1 }
        w.writeBits(0L, 2) // residual method: 4-bit rice
        w.writeBits(po.toLong, 4)
        part = 0
        base = 0
        while (part < nParts) {
          val count = (n >> po) - (if (part == 0) bestO else 0)
          if (partParam(part) < 0) {
            w.writeBits(15L, 4) // escape
            w.writeBits(partEsc(part).toLong, 5)
            var t = 0
            while (t < count) { w.writeBits(res(base + t), partEsc(part)); t += 1 }
          } else {
            val bp = partParam(part)
            w.writeBits(bp.toLong, 4)
            var t = 0
            while (t < count) {
              val u = zigzag(res(base + t))
              w.writeUnary((u >>> bp).toInt)
              w.writeBits(u, bp)
              t += 1
            }
          }
          base += count
          part += 1
        }
      }
    }
  }

  /** Encode STEREO 16-bit PCM: per frame the cheapest decorrelation among
    * independent, left/side, right/side, and mid/side (spec §4.1) is
    * chosen by fixed-predictor residual cost; side channels carry 17-bit
    * subframes. The STREAMINFO MD5 covers the interleaved stream.
    */
  def encodeStereo(left: Array[Short], right: Array[Short], sampleRate: Int,
      blockSize: Int = 4096): Array[Byte] = {
    require(left.length == right.length,
      s"channel length mismatch: ${left.length} vs ${right.length}")
    require(sampleRate > 0 && sampleRate < (1 << 20), s"sampleRate=$sampleRate")
    require(blockSize >= 16 && blockSize <= 65535, s"blockSize=$blockSize")
    require(2L * left.length <= MaxDecodeSamples,
      s"FLAC: ${2L * left.length} samples exceeds codec budget $MaxDecodeSamples")
    val md5 = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val le = new Array[Byte](left.length * 4)
      var i = 0
      while (i < left.length) {
        le(4 * i) = (left(i) & 0xFF).toByte
        le(4 * i + 1) = ((left(i) >> 8) & 0xFF).toByte
        le(4 * i + 2) = (right(i) & 0xFF).toByte
        le(4 * i + 3) = ((right(i) >> 8) & 0xFF).toByte
        i += 1
      }
      d.digest(le)
    }
    val frames = new java.io.ByteArrayOutputStream()
    var minFrame = Int.MaxValue
    var maxFrame = 0
    var frameIdx = 0L
    var off = 0
    while (off < left.length) {
      val n = math.min(blockSize, left.length - off)
      val l = new Array[Int](n)
      val r = new Array[Int](n)
      val mid = new Array[Int](n)
      val side = new Array[Int](n)
      var i = 0
      while (i < n) {
        l(i) = left(off + i)
        r(i) = right(off + i)
        mid(i) = (l(i) + r(i)) >> 1
        side(i) = l(i) - r(i)
        i += 1
      }
      val cL = bestFixedOrder(l, n)._2
      val cR = bestFixedOrder(r, n)._2
      val cM = bestFixedOrder(mid, n)._2
      val cS = bestFixedOrder(side, n)._2
      // spec channel assignments: 8 = left/side, 9 = side/right, 10 = mid/side
      val options = Seq(
        (cL + cR, 1, Array((l, 16), (r, 16))),
        (cL + cS, 8, Array((l, 16), (side, 17))),
        (cR + cS, 9, Array((side, 17), (r, 16))),
        (cM + cS, 10, Array((mid, 16), (side, 17))))
      val (_, assign, chans) = options.minBy(_._1)
      val fb = encodeFrameMulti(chans, n, frameIdx, assign)
      frames.write(fb)
      minFrame = math.min(minFrame, fb.length)
      maxFrame = math.max(maxFrame, fb.length)
      frameIdx += 1
      off += n
    }
    if (minFrame == Int.MaxValue) minFrame = 0
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new BitWriter
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(minFrame.toLong, 24)
    si.writeBits(maxFrame.toLong, 24)
    si.writeBits(sampleRate.toLong, 20)
    si.writeBits(1L, 3) // channels - 1 (stereo)
    si.writeBits(15L, 5) // bits per sample - 1 (16)
    si.writeBits(left.length.toLong, 36)
    val siB = si.toArray
    out.write(siB, 0, siB.length)
    out.write(md5, 0, 16)
    frames.writeTo(out)
    out.toByteArray
  }

  // ——— decoder ———

  /** Decode a MONO 16-bit FLAC stream (errors on stereo — use
    * [[decodeMulti]]). Verifies frame CRCs and the STREAMINFO MD5; fails
    * loudly on anything malformed.
    * @return (samples, sampleRate)
    */
  def decode(bytes: Array[Byte]): (Array[Short], Int) = {
    val (chans, rate) = decodeMulti(bytes)
    require(chans.length == 1,
      s"decode(): stream has ${chans.length} channels — use decodeMulti")
    (chans(0), rate)
  }

  /** Decode a mono or stereo 16-bit FLAC stream — all four stereo channel
    * assignments (independent, left/side, side/right, mid/side with
    * 17-bit side subframes). Verifies frame CRCs and the STREAMINFO MD5.
    * @return (one sample array per channel, sampleRate)
    */
  def decodeMulti(bytes: Array[Byte]): (Array[Array[Short]], Int) = {
    require(bytes.length >= 4 + 4 + 34 &&
      bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C',
      "not a FLAC stream")
    var pos = 4
    // metadata walk; STREAMINFO must be first (spec §8.1)
    var last = false
    var sampleRate = -1
    var channels = -1
    var totalSamples = -1L
    var streamMd5: Array[Byte] = null
    var first = true
    while (!last) {
      if (pos + 4 > bytes.length) throw new IllegalArgumentException("FLAC: truncated metadata")
      val head = bytes(pos) & 0xFF
      last = (head & 0x80) != 0
      val btype = head & 0x7F
      val blen = ((bytes(pos + 1) & 0xFF) << 16) | ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
      pos += 4
      if (pos + blen > bytes.length) throw new IllegalArgumentException("FLAC: metadata overruns stream")
      if (first) {
        if (btype != 0 || blen != 34) throw new IllegalArgumentException("FLAC: first metadata block must be STREAMINFO(34)")
        val r = new BitReader(bytes, pos)
        r.readBits(16); r.readBits(16); r.readBits(24); r.readBits(24)
        sampleRate = r.readBits(20).toInt
        channels = r.readBits(3).toInt + 1
        val bits = r.readBits(5).toInt + 1
        totalSamples = r.readBits(36)
        require(channels <= 2 && bits == 16,
          s"only mono/stereo 16-bit FLAC is implemented here (got ch=$channels bits=$bits)")
        require(sampleRate > 0, "FLAC: zero sample rate")
        require(totalSamples * channels <= MaxDecodeSamples,
          s"FLAC: ${totalSamples * channels} samples exceeds decode budget $MaxDecodeSamples")
        streamMd5 = java.util.Arrays.copyOfRange(bytes, pos + 18, pos + 34)
        first = false
      }
      pos += blen
    }
    if (first) throw new IllegalArgumentException("FLAC: no STREAMINFO")
    val out = Array.ofDim[Short](channels, totalSamples.toInt)
    var got = 0
    while (got < totalSamples) {
      val (dec, nextPos) = decodeFrame(bytes, pos, channels)
      if (got + dec(0).length > totalSamples)
        throw new IllegalArgumentException("FLAC: frames exceed STREAMINFO total samples")
      var c = 0
      while (c < channels) {
        var i = 0
        while (i < dec(c).length) { out(c)(got + i) = dec(c)(i).toShort; i += 1 }
        c += 1
      }
      got += dec(0).length
      pos = nextPos
    }
    // MD5 over the decoded INTERLEAVED stream must match STREAMINFO
    // (all-zero = unset)
    if (streamMd5.exists(_ != 0)) {
      val d = java.security.MessageDigest.getInstance("MD5")
      val le = new Array[Byte](totalSamples.toInt * channels * 2)
      var i = 0
      var o = 0
      while (i < totalSamples) {
        var c = 0
        while (c < channels) {
          le(o) = (out(c)(i) & 0xFF).toByte
          le(o + 1) = ((out(c)(i) >> 8) & 0xFF).toByte
          o += 2
          c += 1
        }
        i += 1
      }
      if (!java.util.Arrays.equals(d.digest(le), streamMd5))
        throw new IllegalArgumentException("FLAC: decoded stream fails the STREAMINFO MD5")
    }
    (out, sampleRate)
  }

  /** @return (frame samples, next byte position) */
  /** @return (one decoded sample array per channel, next byte position) */
  private def decodeFrame(bytes: Array[Byte], start: Int, siChannels: Int): (Array[Array[Int]], Int) = {
    val r = new BitReader(bytes, start)
    if (r.readBits(14) != 0x3FFE) throw new IllegalArgumentException("FLAC: lost frame sync")
    if (r.readBits(1) != 0) throw new IllegalArgumentException("FLAC: reserved header bit set")
    r.readBits(1) // blocking strategy (coded number semantics only)
    val bsCode = r.readBits(4).toInt
    val srCode = r.readBits(4).toInt
    if (srCode == 15) throw new IllegalArgumentException("FLAC: invalid sample-rate code 15")
    val chan = r.readBits(4).toInt
    val ssCode = r.readBits(3).toInt
    if (r.readBits(1) != 0) throw new IllegalArgumentException("FLAC: reserved header bit set")
    // channel assignment → (channel count, index of the 17-bit SIDE
    // subframe, or -1): 0-7 independent, 8 left/side, 9 side/right,
    // 10 mid/side (spec §9.1.3)
    val (nch, sideIdx) = chan match {
      case c if c <= 7 => (c + 1, -1)
      case 8 | 10 => (2, 1)
      case 9 => (2, 0)
      case other => throw new IllegalArgumentException(
        s"FLAC: reserved channel assignment $other")
    }
    require(nch <= 2, s"FLAC: only mono/stereo frames implemented ($nch channels)")
    require(nch == siChannels,
      s"FLAC: frame channel count $nch contradicts STREAMINFO $siChannels")
    val bits = ssCode match {
      case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20; case 6 => 24; case 7 => 32
      case _ => throw new IllegalArgumentException(s"FLAC: unsupported sample-size code $ssCode")
    }
    require(bits == 16, "FLAC: only 16-bit frames implemented")
    readCodedNumber(r)
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.readBits(8).toInt + 1
      case 7 => r.readBits(16).toInt + 1
      case c if c >= 8 => 256 << (c - 8)
      case _ => throw new IllegalArgumentException("FLAC: reserved block-size code")
    }
    srCode match { // only the literal codes read extra header bits
      case 12 => r.readBits(8)
      case 13 | 14 => r.readBits(16)
      case _ => ()
    }
    // CRC-8 check: header bytes run from `start` to the reader's byte position
    val headEnd = r.bytePos
    val declaredCrc8 = r.readBits(8).toInt
    if (crc8(bytes, start, headEnd) != declaredCrc8)
      throw new IllegalArgumentException("FLAC: frame header CRC-8 mismatch")

    val subs = Array.tabulate(nch)(ci =>
      decodeSubframe(r, blockSize, if (ci == sideIdx) bits + 1 else bits))
    r.alignByte()
    val frameEnd = r.bytePos
    if (frameEnd + 2 > bytes.length) throw new IllegalArgumentException("FLAC: truncated frame CRC")
    val declaredCrc16 = ((bytes(frameEnd) & 0xFF) << 8) | (bytes(frameEnd + 1) & 0xFF)
    if (crc16(bytes, start, frameEnd) != declaredCrc16)
      throw new IllegalArgumentException("FLAC: frame CRC-16 mismatch")
    // stereo decorrelation inverse
    val out: Array[Array[Int]] = chan match {
      case c if c <= 7 => subs
      case 8 => // left/side: R = L − S
        Array(subs(0), Array.tabulate(blockSize)(i => subs(0)(i) - subs(1)(i)))
      case 9 => // side/right: L = R + S
        Array(Array.tabulate(blockSize)(i => subs(1)(i) + subs(0)(i)), subs(1))
      case _ => // mid/side: m2 = (M<<1)|(S&1); L = (m2+S)>>1; R = (m2−S)>>1
        Array(
          Array.tabulate(blockSize) { i =>
            val m2 = (subs(0)(i) << 1) | (subs(1)(i) & 1); (m2 + subs(1)(i)) >> 1
          },
          Array.tabulate(blockSize) { i =>
            val m2 = (subs(0)(i) << 1) | (subs(1)(i) & 1); (m2 - subs(1)(i)) >> 1
          })
    }
    (out, frameEnd + 2)
  }

  private def decodeSubframe(r: BitReader, n: Int, bits: Int): Array[Int] = {
    if (r.readBits(1) != 0) throw new IllegalArgumentException("FLAC: bad subframe sync bit")
    val t = r.readBits(6).toInt
    val wastedFlag = r.readBits(1)
    val wasted = if (wastedFlag == 1) r.readUnary() + 1 else 0
    val eff = bits - wasted
    val x = new Array[Int](n)
    t match {
      case 0 => // CONSTANT
        val v = r.readSigned(eff).toInt
        java.util.Arrays.fill(x, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { x(i) = r.readSigned(eff).toInt; i += 1 }
      case ft if ft >= 8 && ft <= 12 => // FIXED order 0-4
        val o = ft - 8
        var i = 0
        while (i < o) { x(i) = r.readSigned(eff).toInt; i += 1 }
        val res = readResiduals(r, n, o)
        i = o
        while (i < n) {
          val pred = (o: @annotation.switch) match {
            case 0 => 0L
            case 1 => x(i - 1).toLong
            case 2 => 2L * x(i - 1) - x(i - 2)
            case 3 => 3L * x(i - 1) - 3L * x(i - 2) + x(i - 3)
            case 4 => 4L * x(i - 1) - 6L * x(i - 2) + 4L * x(i - 3) - x(i - 4)
          }
          x(i) = (pred + res(i - o)).toInt
          i += 1
        }
      case lt if lt >= 32 => // LPC, order = t - 31
        val o = lt - 31
        require(o <= n, "FLAC: LPC order exceeds block size")
        var i = 0
        while (i < o) { x(i) = r.readSigned(eff).toInt; i += 1 }
        val precision = r.readBits(4).toInt + 1
        if (precision == 16) throw new IllegalArgumentException("FLAC: invalid LPC precision")
        val shift = r.readSigned(5).toInt
        require(shift >= 0, "FLAC: negative LPC shift")
        val coef = Array.fill(o)(r.readSigned(precision).toInt)
        val res = readResiduals(r, n, o)
        i = o
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < o) { acc += coef(j).toLong * x(i - 1 - j); j += 1 }
          x(i) = ((acc >> shift) + res(i - o)).toInt
          i += 1
        }
      case other => throw new IllegalArgumentException(s"FLAC: reserved subframe type $other")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
    x
  }

  private def readResiduals(r: BitReader, blockSize: Int, order: Int): Array[Long] = {
    val method = r.readBits(2).toInt
    val pBits = method match {
      case 0 => 4
      case 1 => 5
      case _ => throw new IllegalArgumentException(s"FLAC: reserved residual method $method")
    }
    val partOrder = r.readBits(4).toInt
    val nParts = 1 << partOrder
    require(blockSize % nParts == 0 && (blockSize >> partOrder) >= order,
      s"FLAC: invalid partition order $partOrder for block $blockSize order $order")
    val out = new Array[Long](blockSize - order)
    var idx = 0
    var part = 0
    while (part < nParts) {
      val count = (blockSize >> partOrder) - (if (part == 0) order else 0)
      val param = r.readBits(pBits).toInt
      if (param == (1 << pBits) - 1) { // escape: raw residuals
        val raw = r.readBits(5).toInt
        var k = 0
        while (k < count) { out(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; k += 1 }
      } else {
        var k = 0
        while (k < count) {
          val q = r.readUnary()
          val u = (q.toLong << param) | r.readBits(param)
          out(idx) = unzigzag(u)
          idx += 1
          k += 1
        }
      }
      part += 1
    }
    out
  }
}
