package graft.img

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal columns beyond images (driver prompt): audio/video ride as
  * opaque `binary` columns with typed metadata.
  *
  * Codec reality: audio decodes REAL RIFF/WAVE containers for PCM-16
  * ([[Wav]]) and COMPRESSED IMA-ADPCM ([[Adpcm]], 4:1, audioop-validated
  * kernel), plus REAL LOSSLESS FLAC ([[Flac]], RFC 9639 subset with CRC-8/
  * CRC-16/MD5 verification); video decodes REAL AVI containers with
  * uncompressed DIB frames or COMPRESSED Motion-JPEG frames ([[Avi]], each
  * frame through graft's own baseline [[Jpeg]]). PERCEPTUAL codecs
  * (mp3/aac, h264) are PERMANENTLY out of scope — they need psychoacoustic
  * model tables and external decoder libraries this container doesn't
  * ship; rows tagged with those fmts hit the documented deterministic
  * stub, selected by the row's `fmt`.
  *
  * Batch shape mirrors `mapInPandas`: one partition-level iterator of rows
  * in, one iterator of feature rows out (`mapPartitions` is the Scala
  * equivalent; a vectorized Arrow batch would slot in the same place).
  */
object Multimodal {

  /** Minimal RIFF/WAVE PCM signed-16-bit-LE mono codec. The container is a
    * chunk walk — `RIFF<size>WAVE` then `fmt ` (PCM=1, mono, 16-bit
    * asserted loudly) and `data`; unknown chunks (LIST, fact, …) are
    * skipped by their declared size, padded to 16-bit alignment per spec.
    */
  object Wav {
    def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits/sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** @return (samples, sampleRate); fails loudly on non-PCM16-mono. */
    def decode(bytes: Array[Byte]): (Array[Short], Int) = {
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(bytes.length >= 44, s"WAV too short (${bytes.length} bytes)")
      require(fourcc() == "RIFF", "not a RIFF container")
      buf.getInt // riff size (trusted only for the data chunk below)
      require(fourcc() == "WAVE", "RIFF is not WAVE")
      var sampleRate = -1
      var samples: Array[Short] = null
      while (buf.remaining() >= 8 && samples == null) {
        val id = fourcc()
        val size = buf.getInt
        require(size >= 0 && size <= buf.remaining(),
          s"corrupt WAV chunk '$id' size $size with ${buf.remaining()} bytes left")
        id match {
          case "fmt " =>
            val fmtEnd = buf.position() + size
            val audioFormat = buf.getShort
            val channels = buf.getShort
            sampleRate = buf.getInt
            buf.getInt; buf.getShort // byte rate, block align
            val bits = buf.getShort
            require(audioFormat == 1 && channels == 1 && bits == 16,
              s"only PCM16 mono is implemented (got fmt=$audioFormat ch=$channels bits=$bits)")
            buf.position(fmtEnd + (size & 1))
          case "data" =>
            require(sampleRate > 0, "WAV data chunk before fmt chunk")
            samples = new Array[Short](size / 2)
            var i = 0
            while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
          case _ => // LIST/fact/cue…: skip by declared size (+pad byte)
            buf.position(buf.position() + size + (size & 1))
        }
      }
      require(samples != null, "WAV has no data chunk")
      (samples, sampleRate)
    }
  }

  /** IMA/DVI ADPCM (4-bit) — a REAL COMPRESSED audio codec (WAVE format
    * tag 0x0011), hand-rolled from the public IMA ADPCM spec: per-block
    * header (predictor int16 LE, step index uint8, reserved byte) followed
    * by two samples per byte, LOW nibble first (the WAV packing; CPython's
    * audioop packs high-first — same kernel, different framing). The
    * nibble kernel (shift-form delta, 89-entry step table, index table) is
    * cross-validated against audioop's reference implementation in
    * MultimodalSpec using an embedded golden vector. 4:1 compression vs
    * PCM-16; after this only perceptual codecs (mp3/aac) stay stubbed.
    */
  object Adpcm {
    private val StepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    final class State(var pred: Int = 0, var index: Int = 0)

    /** decode one nibble → sample, mutating state (shift-form delta) */
    def decodeSample(s: State, nib: Int): Int = {
      val step = StepTable(s.index)
      var delta = step >> 3
      if ((nib & 4) != 0) delta += step
      if ((nib & 2) != 0) delta += step >> 1
      if ((nib & 1) != 0) delta += step >> 2
      s.pred = math.max(-32768,
        math.min(32767, if ((nib & 8) != 0) s.pred - delta else s.pred + delta))
      s.index = math.max(0, math.min(88, s.index + IndexTable(nib & 7)))
      s.pred
    }

    /** encode one sample → nibble; the state update REPLAYS the decoder so
      * encoder and decoder predictors can never drift apart
      */
    def encodeSample(s: State, sample: Int): Int = {
      val step = StepTable(s.index)
      var diff = sample - s.pred
      var nib = 0
      if (diff < 0) { nib = 8; diff = -diff }
      if (diff >= step) { nib |= 4; diff -= step }
      if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
      if (diff >= (step >> 2)) nib |= 1
      decodeSample(s, nib)
      nib
    }

    /** WAV container, format tag 0x0011, mono. Blocks of `blockAlign`
      * bytes carry (blockAlign-4)·2+1 samples (the first rides raw in the
      * block header); the final block pads by repeating the last sample
      * and the `fact` chunk records the true total for exact trimming.
      */
    def encodeWav(samples: Array[Short], sampleRate: Int, blockAlign: Int = 256): Array[Byte] = {
      require(samples.nonEmpty, "adpcm: empty input")
      require(blockAlign >= 8 && blockAlign % 4 == 0, s"bad blockAlign $blockAlign")
      val spb = (blockAlign - 4) * 2 + 1
      val nBlocks = (samples.length + spb - 1) / spb
      val dataLen = nBlocks * blockAlign
      val buf = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + 4 + 8 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 20 + 8 + 4 + 8 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(20)
        .putShort(0x11) // IMA ADPCM
        .putShort(1)    // mono
        .putInt(sampleRate)
        .putInt((sampleRate.toLong * blockAlign / spb).toInt) // avg byte rate
        .putShort(blockAlign.toShort)
        .putShort(4)    // bits per (encoded) sample
        .putShort(2)    // cbSize
        .putShort(spb.toShort)
      buf.put("fact".getBytes("US-ASCII")).putInt(4).putInt(samples.length)
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      val st = new State()
      var i = 0
      while (i < nBlocks * spb) {
        def sampleAt(k: Int): Int = samples(math.min(k, samples.length - 1)).toInt
        if (i % spb == 0) { // block header: raw first sample + carried index
          st.pred = sampleAt(i)
          buf.putShort(st.pred.toShort).put(st.index.toByte).put(0.toByte)
          i += 1
        } else {
          val lo = encodeSample(st, sampleAt(i))
          val hi = encodeSample(st, sampleAt(i + 1))
          buf.put((lo | (hi << 4)).toByte) // WAV nibble order: low first
          i += 2
        }
      }
      buf.array()
    }

    /** @return (samples, sampleRate); fails loudly on non-IMA-mono. */
    def decodeWav(bytes: Array[Byte]): (Array[Short], Int) = {
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(bytes.length >= 12, "WAV too short")
      require(fourcc() == "RIFF", "not a RIFF container")
      buf.getInt
      require(fourcc() == "WAVE", "RIFF is not WAVE")
      var sampleRate = -1; var blockAlign = -1; var spb = -1; var total = -1
      var dataPos = -1; var dataSize = -1
      // walk EVERY chunk before decoding: RIFF does not order chunks, so a
      // third-party file may place `fact` (the true sample count) after
      // `data` — decoding eagerly would return the final block's padding
      // as phantom audio
      while (buf.remaining() >= 8) {
        val id = fourcc()
        val size = buf.getInt
        require(size >= 0 && size <= buf.remaining(),
          s"corrupt WAV chunk '$id' size $size with ${buf.remaining()} bytes left")
        val next = buf.position() + size + (size & 1)
        id match {
          case "fmt " =>
            // validate the size BEFORE the field reads — a short fmt chunk
            // at EOF would otherwise escape as a raw BufferUnderflow
            require(size >= 20, s"IMA fmt chunk too short ($size bytes)")
            val tag = buf.getShort
            val channels = buf.getShort
            sampleRate = buf.getInt
            buf.getInt // byte rate
            blockAlign = buf.getShort
            val bits = buf.getShort
            require(tag == 0x11 && channels == 1 && bits == 4,
              s"only IMA-ADPCM mono is implemented here (got fmt=$tag ch=$channels bits=$bits)")
            buf.getShort // cbSize
            spb = buf.getShort
            require(spb == (blockAlign - 4) * 2 + 1,
              s"inconsistent samplesPerBlock $spb for blockAlign $blockAlign")
          case "fact" =>
            total = buf.getInt
          case "data" =>
            dataPos = buf.position(); dataSize = size
          case _ => ()
        }
        buf.position(math.min(next, bytes.length))
      }
      require(dataPos >= 0, "WAV has no data chunk")
      require(spb > 0, "WAV has no fmt chunk")
      buf.position(dataPos)
      val nBlocks = dataSize / blockAlign
      val n = if (total >= 0) total else nBlocks * spb
      require(n <= nBlocks * spb, s"fact total $n exceeds data capacity")
      val out = new Array[Short](n)
      val st = new State()
      var i = 0
      var block = 0
      while (block < nBlocks && i < n) {
        st.pred = buf.getShort.toInt
        st.index = math.max(0, math.min(88, buf.get() & 0xFF))
        buf.get() // reserved
        if (i < n) { out(i) = st.pred.toShort; i += 1 }
        var b = 0
        while (b < blockAlign - 4) {
          val byte = buf.get() & 0xFF
          if (i < n) { out(i) = decodeSample(st, byte & 0x0F).toShort; i += 1 }
          if (i < n) { out(i) = decodeSample(st, byte >>> 4).toShort; i += 1 }
          b += 1
        }
        block += 1
      }
      (out, sampleRate)
    }
  }

  final case class AudioRow(audio_id: String, bytes: Array[Byte], sample_rate: Int,
      n_samples: Int, fmt: String, caption: String)

  final case class AudioFeatures(audio_id: String, rms: Double, zero_crossings: Int,
      duration_s: Double, caption: String)

  final case class VideoRow(video_id: String, bytes: Array[Byte], w: Int, h: Int,
      fps: Int, n_frames: Int, fmt: String)

  final case class FrameRow(video_id: String, frame_idx: Int, w: Int, h: Int,
      frame_png: Array[Byte])

  /** STUB decode for COMPRESSED audio (fmt != "wav"): deterministic synth —
    * byte i of the payload is the sample stream. A real mp3/aac decoder
    * (libsndfile/ffmpeg, absent from this container) replaces ONLY the body
    * of this function; schema and pipeline stay.
    */
  private[img] def decodeAudioStub(bytes: Array[Byte]): Array[Short] = {
    val out = new Array[Short](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = ((bytes(i) & 0xFF) * 257 - 32768).toShort // spread to 16-bit range
      i += 1
    }
    out
  }

  /** Deterministic synthetic corpus of REAL .wav files (playable anywhere):
    * splitmix-derived 16-bit samples in a RIFF/WAVE container.
    */
  def synthAudio(spark: SparkSession, n: Long, partitions: Int = 8): Dataset[AudioRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val len = 256 + (ImageTable.splitmix64(i) & 0xFF).toInt
      val samples = Array.tabulate(len)(k =>
        ((ImageTable.splitmix64(i * 100000 + k) & 0xFFFF) - 32768).toShort)
      AudioRow(f"aud_$i%09d", Wav.encode(samples, 16000), 16000, len, "wav",
        s"audio caption_$i")
    }
  }

  /** Deterministic synthetic corpus of REAL IMA-ADPCM .wav files
    * (fmt="wav_adpcm"): SMOOTH two-tone signals (sines at splitmix-derived
    * frequencies) — the signal class ADPCM is built for, so the 4:1
    * compression round-trips at a meaningful SNR (white noise would not).
    */
  def synthAudioAdpcm(spark: SparkSession, n: Long, partitions: Int = 8): Dataset[AudioRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val len = 512 + (ImageTable.splitmix64(i) & 0xFF).toInt
      val f1 = 100 + (ImageTable.splitmix64(i * 7 + 1) & 0x3FF).toInt
      val f2 = 100 + (ImageTable.splitmix64(i * 7 + 2) & 0x3FF).toInt
      val samples = Array.tabulate(len) { k =>
        val t = k / 16000.0
        ((math.sin(2 * math.Pi * f1 * t) * 12000 +
          math.sin(2 * math.Pi * f2 * t) * 8000)).toInt.toShort
      }
      AudioRow(f"aud_$i%09d", Adpcm.encodeWav(samples, 16000), 16000, len,
        "wav_adpcm", s"audio caption_$i")
    }
  }

  /** Deterministic synthetic corpus of REAL .flac files (lossless, RFC
    * 9639): integer triangle waves — splitmix-derived length, period, and
    * amplitude, all-integer sample arithmetic so the decoded stream is
    * EXACTLY SQL-replicable (q62's oracle), and piecewise-linear so the
    * fixed predictors genuinely compress (ratio pinned in CodecsSpec).
    */
  def synthAudioFlac(spark: SparkSession, n: Long, partitions: Int = 8): Dataset[AudioRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val len = 512 + (ImageTable.splitmix64(i) & 0xFF).toInt
      val period = 256 + (ImageTable.splitmix64(i * 3 + 1) & 0x1FF).toInt
      val amp = 4000 + (ImageTable.splitmix64(i * 3 + 2) & 0x1FFF).toInt
      val samples = Array.tabulate(len) { k =>
        val p = k % period
        // non-negative numerators only: Java / truncates toward zero while
        // DuckDB // floors — they agree exactly on non-negative operands
        (2L * math.min(p, period - p) * amp / period - amp / 2).toShort
      }
      AudioRow(f"aud_$i%09d", Flac.encode(samples, 16000), 16000, len, "flac",
        s"audio caption_$i")
    }
  }

  /** Same triangle synth as [[synthAudioFlac]] but with a planted SILENT
    * gap — frames (64 samples) g..g+glen−1 zeroed, g ∈ 1..4, glen ∈ 1..2
    * from two more splitmix draws — encoded through the real RIFF/WAVE
    * codec. The corpus for silence segmentation (q123): gap placement is
    * closed-form, so the segment table is SQL-replicable end to end.
    */
  def synthAudioGapped(spark: SparkSession, n: Long, partitions: Int = 8): Dataset[AudioRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val len = 512 + (ImageTable.splitmix64(i) & 0xFF).toInt
      val period = 256 + (ImageTable.splitmix64(i * 3 + 1) & 0x1FF).toInt
      val amp = 4000 + (ImageTable.splitmix64(i * 3 + 2) & 0x1FFF).toInt
      val g = 1 + (ImageTable.splitmix64(i * 5 + 3) & 3L).toInt
      val glen = 1 + (ImageTable.splitmix64(i * 5 + 4) & 1L).toInt
      val samples = Array.tabulate(len) { k =>
        val f = k / 64
        if (f >= g && f < g + glen) 0.toShort
        else {
          val p = k % period
          (2L * math.min(p, period - p) * amp / period - amp / 2).toShort
        }
      }
      AudioRow(f"aud_$i%09d", Wav.encode(samples, 16000), 16000, len, "wav",
        s"audio caption_$i")
    }
  }

  /** Decode dispatch shared by the feature extractors. */
  private def pcmOf(a: AudioRow): Array[Short] = a.fmt match {
    case "wav" => Wav.decode(a.bytes)._1
    case "wav_adpcm" => Adpcm.decodeWav(a.bytes)._1
    case "flac" => Flac.decode(a.bytes)._1
    case _ => decodeAudioStub(a.bytes)
  }

  /** Per-frame peak magnitude (max |sample| over each `frame`-sample
    * window, last window partial): the decode stays imperative per row,
    * the segmentation on top stays declarative — (audio_id, frame, peak)
    * is the narrow zero-shuffle hand-off between the two.
    */
  def framePeaks(spark: SparkSession, audio: Dataset[AudioRow],
      frame: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    require(frame > 0, s"frame size must be positive, got $frame")
    audio.flatMap { a =>
      val pcm = pcmOf(a)
      (0 until (pcm.length + frame - 1) / frame).map { f =>
        var m = 0L
        var k = f * frame
        val end = math.min(k + frame, pcm.length)
        while (k < end) {
          val v = math.abs(pcm(k).toLong)
          if (v > m) m = v
          k += 1
        }
        (a.audio_id, f.toLong, m)
      }
    }.toDF("audio_id", "frame", "peak")
  }

  /** Feature extraction over the opaque audio column — partition-batched.
    * fmt="wav" rows go through the real RIFF/WAVE PCM decoder,
    * fmt="wav_adpcm" through the real IMA-ADPCM decoder, and fmt="flac"
    * through the real FLAC decoder; only perceptual formats (mp3/aac) hit
    * the documented stub.
    */
  def audioFeatures(spark: SparkSession, audio: Dataset[AudioRow]): Dataset[AudioFeatures] = {
    import spark.implicits._
    audio.mapPartitions { it =>
      it.map { a =>
        val pcm = a.fmt match {
          case "wav" => Wav.decode(a.bytes)._1
          case "wav_adpcm" => Adpcm.decodeWav(a.bytes)._1
          case "flac" => Flac.decode(a.bytes)._1
          case _ => decodeAudioStub(a.bytes)
        }
        var sumSq = 0.0
        var zc = 0
        var i = 0
        while (i < pcm.length) {
          sumSq += pcm(i).toDouble * pcm(i)
          if (i > 0 && ((pcm(i) >= 0) != (pcm(i - 1) >= 0))) zc += 1
          i += 1
        }
        AudioFeatures(a.audio_id, math.sqrt(sumSq / math.max(1, pcm.length)), zc,
          a.n_samples.toDouble / a.sample_rate, a.caption)
      }
    }
  }

  /** Integer autocorrelation pitch detection — per clip the lag
    * L ∈ [loLag, hiLag] maximizing R(L) = Σ_k s_k·s_{k+L} (k up to
    * len−1−L), ties to the SMALLEST lag; all-integer so the argmax is
    * oracle-exact (|s| < 2^15, len < 2^10 ⇒ |R| < 2^41). Decodes
    * through the same real codecs as [[audioFeatures]] — on the FLAC
    * triangle-wave clips the detected lag is the synth period whenever
    * the period lies in range, so any codec bit-slip moves the argmax.
    * Narrow per-clip kernel, no shuffle. Emits
    * (audio_id, best_lag, r_max, n_samples).
    */
  def pitchFeatures(spark: SparkSession, audio: Dataset[AudioRow],
      loLag: Int, hiLag: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    require(0 < loLag && loLag <= hiLag, s"bad lag range [$loLag, $hiLag]")
    audio.mapPartitions { it =>
      it.map { a =>
        val pcm = a.fmt match {
          case "wav" => Wav.decode(a.bytes)._1
          case "wav_adpcm" => Adpcm.decodeWav(a.bytes)._1
          case "flac" => Flac.decode(a.bytes)._1
          case _ => decodeAudioStub(a.bytes)
        }
        var bestLag = loLag
        var bestR = Long.MinValue
        var lag = loLag
        while (lag <= hiLag) {
          var r = 0L
          var k = 0
          val n = pcm.length - lag
          while (k < n) {
            r += pcm(k).toLong * pcm(k + lag)
            k += 1
          }
          // strict > keeps the smallest lag on ties (ascending scan)
          if (r > bestR) { bestR = r; bestLag = lag }
          lag += 1
        }
        (a.audio_id, bestLag, bestR, pcm.length)
      }
    }.toDF("audio_id", "best_lag", "r_max", "n_samples")
  }

  /** Minimal RIFF AVI container — a REAL, player-openable video format
    * needing zero external libraries — with TWO codecs:
    *
    *   - "dib": uncompressed 'DIB ' frames (a DIB frame is exactly a BMP
    *     without its 14-byte file header, so both directions reuse the
    *     tested BMP row codec in graft.img.Codecs);
    *   - "mjpg": Motion-JPEG — every frame an independent baseline JPEG
    *     through graft's own [[Jpeg]] codec, i.e. a real COMPRESSED video
    *     format (intra-only, the standard archival/capture profile), with
    *     the per-frame PSNR ≥ 40 dB lossy invariant.
    *
    * The writer emits hdrl (avih + strl/strh/strf), movi, and a keyframe
    * idx1 (players want the index; our demux scans movi directly — in
    * MJPEG every frame is a keyframe, which is why seeking needs no
    * inter-frame state).
    */
  object Avi {
    private val MJPG_FOURCC = 0x47504A4D // 'MJPG' little-endian

    def encode(frames: Seq[Array[Int]], w: Int, h: Int, fps: Int,
        codec: String = "dib"): Array[Byte] = {
      val mjpg = codec match {
        case "mjpg" => true
        case "dib" => false
        case other => throw new IllegalArgumentException(s"unsupported AVI codec $other")
      }
      val dibs = frames.map { px =>
        if (mjpg) Jpeg.encode(px, w, h)
        else {
          val bmp = Codecs.encodeBmp(px, w, h)
          java.util.Arrays.copyOfRange(bmp, 14, bmp.length)
        }
      }
      // MJPEG frames vary in size: buffer hints use the max
      val frameSize = if (dibs.isEmpty) 0 else dibs.map(_.length).max
      val bb = new java.io.ByteArrayOutputStream()
      val le = java.nio.ByteOrder.LITTLE_ENDIAN
      def u32(v: Int): Unit = {
        val b = java.nio.ByteBuffer.allocate(4).order(le).putInt(v); bb.write(b.array())
      }
      def u16(v: Int): Unit = {
        val b = java.nio.ByteBuffer.allocate(2).order(le).putShort(v.toShort); bb.write(b.array())
      }
      def cc(s: String): Unit = bb.write(s.getBytes("US-ASCII"))

      // strl LIST: strh(56) + strf(40) + chunk headers = 4 + 8+56 + 8+40
      val strlSize = 4 + 8 + 56 + 8 + 40
      // hdrl LIST: avih(56) + strl list = 4 + 8+56 + 8+strlSize
      val hdrlSize = 4 + 8 + 56 + 8 + strlSize
      val moviSize = 4 + dibs.map(d => 8 + d.length + (d.length & 1)).sum
      val idx1Size = 16 * dibs.length
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)

      cc("RIFF"); u32(riffSize); cc("AVI ")
      cc("LIST"); u32(hdrlSize); cc("hdrl")
      cc("avih"); u32(56)
      u32(1000000 / math.max(fps, 1)); u32(0); u32(0); u32(0x10 /*AVIF_HASINDEX*/)
      u32(dibs.length); u32(0); u32(1); u32(frameSize)
      u32(w); u32(h); u32(0); u32(0); u32(0); u32(0)
      val chunkId = if (mjpg) "00dc" else "00db" // dc = compressed frames
      cc("LIST"); u32(strlSize); cc("strl")
      cc("strh"); u32(56)
      cc("vids"); cc(if (mjpg) "MJPG" else "DIB "); u32(0); u16(0); u16(0); u32(0)
      u32(1); u32(fps); u32(0); u32(dibs.length); u32(frameSize); u32(-1); u32(0)
      u16(0); u16(0); u16(w); u16(h)
      cc("strf"); u32(40)
      u32(40); u32(w); u32(h); u16(1); u16(24)
      u32(if (mjpg) MJPG_FOURCC else 0) // biCompression
      u32(if (mjpg) frameSize else ((3 * w + 3) & ~3) * h)
      u32(0); u32(0); u32(0); u32(0)
      cc("LIST"); u32(moviSize); cc("movi")
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
      var off = 4 // offsets measured from the 'movi' fourcc
      dibs.foreach { d =>
        offsets += off
        cc(chunkId); u32(d.length); bb.write(d)
        if ((d.length & 1) == 1) bb.write(0)
        off += 8 + d.length + (d.length & 1)
      }
      cc("idx1"); u32(idx1Size)
      dibs.indices.foreach { i =>
        cc(chunkId); u32(0x10 /*AVIIF_KEYFRAME*/); u32(offsets(i)); u32(dibs(i).length)
      }
      bb.toByteArray
    }

    /** @return (frames as pixel arrays, w, h, fps); fails loudly on
      *         anything but the 24-bit uncompressed-DIB or MJPG layouts
      *         above.
      */
    def decode(bytes: Array[Byte]): (Seq[Array[Int]], Int, Int, Int) = {
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF container")
      buf.getInt
      require(fourcc() == "AVI ", "RIFF is not AVI")
      var w = -1; var h = -1; var fps = -1
      var compression = 0
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      def dibToPixels(dib: Array[Byte]): Array[Int] = {
        // re-wrap as a BMP: 14-byte file header pointing past both headers
        val bmp = new Array[Byte](14 + dib.length)
        bmp(0) = 'B'; bmp(1) = 'M'
        val bl = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bl.putInt(2, bmp.length); bl.putInt(10, 54)
        System.arraycopy(dib, 0, bmp, 14, dib.length)
        Codecs.decodeBmp(bmp)._1
      }
      def walkList(end: Int): Unit = {
        while (buf.position() + 8 <= end) {
          val id = fourcc()
          val size = buf.getInt
          require(size >= 0 && buf.position() + size <= end,
            s"corrupt AVI chunk '$id' size $size")
          val next = buf.position() + size + (size & 1)
          id match {
            case "LIST" =>
              val kind = fourcc()
              if (kind == "hdrl" || kind == "strl" || kind == "movi") walkList(next)
              else buf.position(next)
            case "avih" =>
              val usPerFrame = buf.getInt
              fps = if (usPerFrame > 0) 1000000 / usPerFrame else 0
              buf.position(next)
            case "strf" =>
              buf.getInt // biSize
              w = buf.getInt; h = buf.getInt
              buf.getShort
              val bpp = buf.getShort
              compression = buf.getInt
              require(compression == MJPG_FOURCC || compression == 0,
                f"unsupported AVI biCompression 0x$compression%08x")
              require(compression == MJPG_FOURCC || bpp == 24,
                s"only 24-bit DIB frames implemented (got $bpp)")
              buf.position(next)
            case "00db" | "00dc" =>
              val d = new Array[Byte](size)
              buf.get(d)
              if (compression == MJPG_FOURCC) {
                val (px, fw, fh) = Jpeg.decode(d)
                require(fw == w && fh == h, s"MJPG frame ${fw}x$fh disagrees with strf ${w}x$h")
                frames += px
              } else frames += dibToPixels(d)
              buf.position(next)
            case _ => buf.position(next)
          }
        }
      }
      walkList(bytes.length)
      require(w > 0 && h > 0, "AVI has no strf header")
      (frames.toSeq, w, h, fps)
    }
  }

  /** Deterministic synthetic corpus of REAL .avi files (openable by any
    * player): one row per video. codec "dib" (uncompressed, fmt="avi") or
    * "mjpg" (compressed Motion-JPEG, fmt="avi_mjpg").
    */
  def synthVideo(spark: SparkSession, n: Long, frames: Int = 8,
      partitions: Int = 4, codec: String = "dib"): Dataset[VideoRow] = {
    import spark.implicits._
    val fmt = if (codec == "mjpg") "avi_mjpg" else "avi"
    spark.range(0, n, 1, partitions).map { i =>
      val w = 16; val h = 16
      val px = (0 until frames).map(f => ImageTable.renderPixels(i * 1000 + f, w, h))
      VideoRow(f"vid_$i%09d", Avi.encode(px, w, h, 10, codec), w, h, 10, frames, fmt)
    }
  }

  /** Shot-structured video corpus for boundary detection (q131): frames
    * within a shot are IDENTICAL (pixel source renderPixels(i·1000 +
    * shotIdx)), and a cut happens before frame f (f ≥ 1) iff bit f−1 of
    * splitmix64(i·7+5) is set — so the true cut list is closed-form in
    * the same bits. Encoded through the real RIFF/AVI DIB container
    * (lossless, so decode == synth exactly).
    */
  def synthVideoShots(spark: SparkSession, n: Long, frames: Int = 12,
      partitions: Int = 4): Dataset[VideoRow] = {
    import spark.implicits._
    require(frames >= 2 && frames <= 60, s"frames=$frames")
    spark.range(0, n, 1, partitions).map { i =>
      val w = 16; val h = 16
      val cuts = ImageTable.splitmix64(i * 7 + 5)
      var shot = 0L
      val px = (0 until frames).map { f =>
        if (f > 0 && ((cuts >>> (f - 1)) & 1L) == 1L) shot += 1
        ImageTable.renderPixels(i * 1000 + shot, w, h)
      }
      VideoRow(f"vid_$i%09d", Avi.encode(px, w, h, 10, "dib"), w, h, 10, frames, "avi")
    }
  }

  /** Shot-boundary detection: decode the real container, sum absolute
    * per-channel differences between consecutive frames, report frames
    * whose diff exceeds `thr` — the shot segmenter a video-training
    * pipeline cuts clips with. Narrow flatMap, zero shuffle; all
    * integer arithmetic, so over a lossless codec the detected cuts are
    * exactly the planted ones.
    */
  def shotCuts(spark: SparkSession, videos: Dataset[VideoRow],
      thr: Long = 0L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    videos.flatMap { v =>
      val (frames, _, _, _) =
        if (v.fmt.startsWith("avi")) Avi.decode(v.bytes)
        else sys.error(s"shotCuts: unsupported container ${v.fmt}")
      (1 until frames.length).flatMap { f =>
        val a = frames(f - 1); val b = frames(f)
        var s = 0L
        var k = 0
        while (k < a.length) {
          val p = a(k); val q = b(k)
          s += math.abs(((p >> 16) & 0xFF) - ((q >> 16) & 0xFF)) +
            math.abs(((p >> 8) & 0xFF) - ((q >> 8) & 0xFF)) +
            math.abs((p & 0xFF) - (q & 0xFF))
          k += 1
        }
        if (s > thr) Some((v.video_id, f.toLong)) else None
      }
    }.toDF("video_id", "frame_idx")
  }

  /** STUB container for COMPRESSED video: length-prefixed PNG frames. A
    * real h264 demux (absent from this container) replaces only the
    * splitter; kept to exercise the fmt-dispatch path.
    */
  def synthVideoPngSeq(spark: SparkSession, n: Long, frames: Int = 8,
      partitions: Int = 4): Dataset[VideoRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val w = 16; val h = 16
      val frameBytes = (0 until frames).map(f =>
        Codecs.encodePng(ImageTable.renderPixels(i * 1000 + f, w, h), w, h))
      val lens = frameBytes.map(_.length)
      val buf = java.nio.ByteBuffer.allocate(4 * frames + lens.sum)
      frameBytes.foreach { fb => buf.putInt(fb.length); buf.put(fb) }
      VideoRow(f"vid_$i%09d", buf.array(), w, h, 10, frames, "pngseq_stub")
    }
  }

  /** Generator-shaped frame sampling: one video row → ceil(n/stride)
    * frames, each re-encoded as PNG. fmt="avi"/"avi_mjpg" rows demux the
    * real AVI container (the demux dispatches DIB vs MJPG off the strf
    * header); "pngseq_stub" splits the stub container.
    */
  def sampleFrames(spark: SparkSession, videos: Dataset[VideoRow], stride: Int = 2): Dataset[FrameRow] = {
    import spark.implicits._
    videos.flatMap { v =>
      if (v.fmt.startsWith("avi")) {
        val (frames, w, h, _) = Avi.decode(v.bytes)
        frames.zipWithIndex.collect { case (px, f) if f % stride == 0 =>
          FrameRow(v.video_id, f, w, h, Codecs.encodePng(px, w, h))
        }
      } else {
        val buf = java.nio.ByteBuffer.wrap(v.bytes)
        (0 until v.n_frames).flatMap { f =>
          val len = buf.getInt()
          val fb = new Array[Byte](len)
          buf.get(fb)
          if (f % stride == 0) Some(FrameRow(v.video_id, f, v.w, v.h, fb)) else None
        }
      }
    }
  }
}
