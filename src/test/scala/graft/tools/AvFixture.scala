package graft.tools

/**
 * Deterministic binary audio/image-container fixture: real WAV (RIFF),
 * GIF and BMP byte structures plus deliberately broken rows, written as
 * ONE parquet file so both Spark and the DuckDB oracle read the
 * identical blobs — the audio/raster companion to [[MediaFixture]].
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 4 == 0 → WAV: RIFF/WAVE, `fmt ` (PCM) at byte 12; every
 *                  id % 8 == 4 inserts a LIST chunk of 12+2*(id%3)
 *                  bytes between `fmt ` and `data` (exercises the
 *                  chunk walk); data payload is (id*37) % 2000 bytes.
 *                  channels = 1+(id%2), sample_rate = 8000*(1+(id%5)),
 *                  bits = 8 when id%3==0 else 16.
 *  - id % 4 == 1 → GIF89a (GIF87a when id % 8 == 5): LE16 dims at 6/8.
 *  - id % 4 == 2 → BMP BITMAPINFOHEADER: LE32 dims at 18/22; every
 *                  id % 8 == 6 stores a NEGATIVE height (top-down row
 *                  order — parsers must report magnitude).
 *  - id % 8 == 3 → truncated WAV (RIFF header cut mid-"WAVE")
 *  - id % 8 == 7 → junk bytes (no container signature at all)
 * width = 16 + (id*7) % 1000, height = 16 + (id*13) % 800 (GIF/BMP).
 *
 * Usage: Test/runMain graft.tools.AvFixture [outFile] [rows]
 * (default fixtures/av.parquet, 500 rows)
 */
object AvFixture {

  def width(id: Long): Int = 16 + (id * 7 % 1000).toInt
  def height(id: Long): Int = 16 + (id * 13 % 800).toInt

  def channels(id: Long): Int = 1 + (id % 2).toInt
  def sampleRate(id: Long): Int = 8000 * (1 + (id % 5).toInt)
  def bits(id: Long): Int = if (id % 3 == 0) 8 else 16
  def dataLen(id: Long): Int = (id * 37 % 2000).toInt

  private def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >>> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)

  def wav(id: Long): Array[Byte] = {
    val ch = channels(id); val rate = sampleRate(id); val b = bits(id)
    val blockAlign = ch * b / 8
    val byteRate = rate * blockAlign
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(ch) ++ le32(rate) ++ le32(byteRate) ++
      le16(blockAlign) ++ le16(b)
    val list =
      if (id % 8 != 4) Array.emptyByteArray
      else {
        val n = 12 + 2 * (id % 3).toInt // even → no RIFF pad byte
        "LIST".getBytes("US-ASCII") ++ le32(n) ++
          ("INFO" + "i" * (n - 4)).getBytes("US-ASCII")
      }
    val data = "data".getBytes("US-ASCII") ++ le32(dataLen(id)) ++
      new Array[Byte](dataLen(id))
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ list ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  def gif(id: Long): Array[Byte] = {
    val sig = if (id % 8 == 5) "GIF87a" else "GIF89a"
    sig.getBytes("US-ASCII") ++ le16(width(id)) ++ le16(height(id)) ++
      Array[Byte](0, 0, 0) ++ Array[Byte](0x3b) // packed/bg/aspect + trailer
  }

  def bmp(id: Long): Array[Byte] = {
    val h = if (id % 8 == 6) -height(id) else height(id)
    val header = "BM".getBytes("US-ASCII") ++ le32(54) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(width(id)) ++ le32(h) ++ le16(1) ++ le16(24) ++
      new Array[Byte](24) // rest of BITMAPINFOHEADER: compression..colors
    header
  }

  /**
   * A WAV whose data chunk carries REAL PCM samples with an
   * exactly-known envelope: the first half of the frames are silence,
   * the second half full-scale — so a mean-|amplitude| envelope over
   * it is 0 in its first half and ~1 in its second (within one LSB of
   * the sample width), even across multi-channel interleaving.
   */
  def wavStep(ch: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
    val blockAlign = ch * bits / 8
    val byteRate = rate * blockAlign
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(ch) ++ le32(rate) ++ le32(byteRate) ++
      le16(blockAlign) ++ le16(bits)
    val pcm = new Array[Byte](frames * blockAlign)
    var f = frames / 2 // first half stays silence (8-bit silence is 0x80)
    if (bits == 8) java.util.Arrays.fill(pcm, 0, frames / 2 * blockAlign, 0x80.toByte)
    while (f < frames) {
      var c = 0
      while (c < ch) {
        val o = f * blockAlign + c * (bits / 8)
        if (bits == 8) pcm(o) = 0xff.toByte // amp (255-128)/128
        else { pcm(o) = 0xff.toByte; pcm(o + 1) = 0x7f.toByte } // 32767
        c += 1
      }
      f += 1
    }
    val data = "data".getBytes("US-ASCII") ++ le32(pcm.length) ++ pcm
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /**
   * A REAL animated GIF: `frames` full-size frames of strictly
   * increasing uniform gray (frame i is gray i*255/(frames-1)),
   * written through the JDK's own GIF sequence writer — so a frame
   * iterator must surface `frames` distinct images whose Rec.601
   * mean-luminance is exactly known per frame (gray (v,v,v) → v/255).
   */
  def animatedGif(w: Int, h: Int, frames: Int): Array[Byte] = {
    import javax.imageio.ImageIO
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until frames).foreach { i =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      val v = if (frames <= 1) 0 else i * 255 / (frames - 1)
      g.setColor(new java.awt.Color(v, v, v))
      g.fillRect(0, 0, w, h)
      g.dispose()
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** The step PCM pattern of [[wavStep]] as a JDK AudioInputStream
   * (16-bit signed big-endian — the byte order AIFF and AU store):
   * first half silence, second half full-scale. */
  private def stepPcmStream(ch: Int, rate: Int, frames: Int,
      bigEndian: Boolean = true): javax.sound.sampled.AudioInputStream = {
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, ch, ch * 2, rate.toFloat, bigEndian)
    val pcm = new Array[Byte](frames * ch * 2)
    var f = frames / 2
    while (f < frames) {
      var c = 0
      while (c < ch) {
        val o = (f * ch + c) * 2
        // 32767 in the stream's byte order
        if (bigEndian) { pcm(o) = 0x7f.toByte; pcm(o + 1) = 0xff.toByte }
        else { pcm(o) = 0xff.toByte; pcm(o + 1) = 0x7f.toByte }
        c += 1
      }
      f += 1
    }
    new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
  }

  private def writeAudio(ais: javax.sound.sampled.AudioInputStream,
      tpe: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
    bos.toByteArray
  }

  /** A REAL AIFF with the same known step envelope as [[wavStep]],
   * written by the JDK's own AIFF writer. */
  def aiffStep(ch: Int, rate: Int, frames: Int): Array[Byte] =
    writeAudio(stepPcmStream(ch, rate, frames),
      javax.sound.sampled.AudioFileFormat.Type.AIFF)

  /** A REAL AU (Sun audio) with the known step envelope. */
  def auStep(ch: Int, rate: Int, frames: Int): Array[Byte] =
    writeAudio(stepPcmStream(ch, rate, frames),
      javax.sound.sampled.AudioFileFormat.Type.AU)

  /** G.711 mu-law encode of one 16-bit sample — the public standard's
   * sign/exponent/mantissa companding (bias 0x84, clip 32635,
   * complemented output). Encoded HERE so the fixture is
   * deterministic; the engine's decode path uses the JDK's mu-law
   * DECODER, which this round-trips against. */
  def ulawEncode(s: Short): Byte = {
    var sample = s.toInt
    val sign = if (sample < 0) { sample = -sample; 0x80 } else 0
    if (sample > 32635) sample = 32635
    sample += 0x84
    var exponent = 7
    var mask = 0x4000
    while (exponent > 0 && (sample & mask) == 0) { exponent -= 1; mask >>= 1 }
    val mantissa = (sample >> (exponent + 3)) & 0x0f
    (~(sign | (exponent << 4) | mantissa)).toByte
  }

  /** G.711 A-law encode of one 16-bit sample — the public standard's
   * segment/interval companding with the 0x55 toggle mask. Like
   * [[ulawEncode]], encoded here so the fixture is deterministic and
   * the engine's JDK DECODER round-trips against it. */
  def alawEncode(s: Short): Byte = {
    var sample = s.toInt
    val sign = if (sample >= 0) 0x80 else { sample = -sample; 0 }
    if (sample > 32635) sample = 32635
    val v =
      if (sample < 256) (sample >> 4) & 0x0f
      else {
        var exponent = 7
        var mask = 0x4000
        while (exponent > 0 && (sample & mask) == 0) { exponent -= 1; mask >>= 1 }
        (exponent << 4) | ((sample >> (exponent + 3)) & 0x0f)
      }
    ((v | sign) ^ 0x55).toByte
  }

  private def companderWavStep(formatTag: Int, encode: Short => Byte,
      ch: Int, rate: Int, frames: Int): Array[Byte] = {
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(formatTag) ++ le16(ch) ++ le32(rate) ++ le32(rate * ch) ++
      le16(ch) ++ le16(8)
    val samples = new Array[Byte](frames * ch)
    var f = 0
    while (f < frames) {
      val s: Short = if (f < frames / 2) 0 else 32767
      var c = 0
      while (c < ch) { samples(f * ch + c) = encode(s); c += 1 }
      f += 1
    }
    val data = "data".getBytes("US-ASCII") ++ le32(samples.length) ++ samples
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** IMA ADPCM encode of one sample against the current
   * (predictor, stepIndex): returns the 4-bit code. The reconstruction
   * side lives in [[graft.ops.Multimodal.MediaCodec.imaReconstruct]] —
   * encoder and decoder share the standard's tables, and the spec
   * round-trips them. */
  def imaEncodeNibble(sample: Int, predictor: Int, stepIndex: Int): Int = {
    val step = graft.ops.Multimodal.MediaCodec.ImaStepTable(stepIndex)
    var diff = sample - predictor
    var nib = if (diff < 0) { diff = -diff; 8 } else 0
    var s = step
    if (diff >= s) { nib |= 4; diff -= s }
    s >>= 1
    if (diff >= s) { nib |= 2; diff -= s }
    s >>= 1
    if (diff >= s) nib |= 1
    nib
  }

  /**
   * A REAL IMA ADPCM WAV (format tag 17, 4 bits/sample) with the step
   * envelope: silence then full-scale, encoded block by block with the
   * standard's adaptive quantiser — per block and channel a 4-byte
   * header (raw first sample + step index), then 4-byte nibble groups
   * round-robin across channels. Block layout: 36*ch bytes →
   * 65 samples/block; pass `frames` as a multiple of 65 for a clean
   * step boundary. Note the codec's real slew: the adaptive step
   * needs ~50 samples to climb from silence to full scale, so the
   * envelope cell containing the step edge ramps.
   */
  def adpcmWavStep(ch: Int, rate: Int, frames: Int): Array[Byte] =
    adpcmWav((f, _) => if (f < frames / 2) 0 else 32767, ch, rate, frames)

  /** General IMA ADPCM WAV encode of `sampleAt(frame, channel)` —
   * the step fixture above and the fingerprint pair tests (an ADPCM
   * re-encode of arbitrary PCM) share one encode loop. */
  def adpcmWav(sampleAt: (Int, Int) => Int, ch: Int, rate: Int,
      frames: Int): Array[Byte] = {
    import graft.ops.Multimodal.MediaCodec.{imaReconstruct, ImaIndexTable}
    val blockAlign = 36 * ch
    val samplesPerBlock = 65
    val nBlocks = (frames + samplesPerBlock - 1) / samplesPerBlock
    val data = new java.io.ByteArrayOutputStream()
    val stepIdx = new Array[Int](ch)
    var f = 0
    (0 until nBlocks).foreach { _ =>
      val predictor = new Array[Int](ch)
      (0 until ch).foreach { c =>
        val first = sampleAt(f, c)
        predictor(c) = first
        data.write(first & 0xff); data.write((first >>> 8) & 0xff)
        data.write(stepIdx(c)); data.write(0)
      }
      // 8 rounds of one 4-byte group (8 samples) per channel
      (0 until 8).foreach { r =>
        (0 until ch).foreach { c =>
          var packed = 0L
          (0 until 8).foreach { i =>
            val s = sampleAt(f + 1 + r * 8 + i, c)
            val nib = imaEncodeNibble(s, predictor(c), stepIdx(c))
            predictor(c) = imaReconstruct(predictor(c), stepIdx(c), nib)
            stepIdx(c) = math.max(0, math.min(88, stepIdx(c) + ImaIndexTable(nib)))
            packed |= (nib.toLong & 0xf) << (i * 4) // low nibble first
          }
          (0 until 4).foreach(bi => data.write(((packed >>> (bi * 8)) & 0xff).toInt))
        }
      }
      f += samplesPerBlock
    }
    val payload = data.toByteArray
    val byteRate = rate * blockAlign / samplesPerBlock
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(20) ++
      le16(17) ++ le16(ch) ++ le32(rate) ++ le32(byteRate) ++
      le16(blockAlign) ++ le16(4) ++ le16(2) ++ le16(samplesPerBlock)
    val dataChunk = "data".getBytes("US-ASCII") ++ le32(payload.length) ++ payload
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ dataChunk
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** A REAL G.711 mu-law WAV with the known step envelope: silence
   * then full-scale, companded sample by sample through [[ulawEncode]]
   * into a non-PCM WAV container (format tag 7) — so the direct PCM
   * fast path must reject it and the AudioSystem decode path must
   * DECOMPRESS it back to the envelope (within companding error). */
  def ulawWavStep(ch: Int, rate: Int, frames: Int): Array[Byte] =
    companderWavStep(7, ulawEncode, ch, rate, frames)

  /** The A-law twin of [[ulawWavStep]] (WAV format tag 6). */
  def alawWavStep(ch: Int, rate: Int, frames: Int): Array[Byte] =
    companderWavStep(6, alawEncode, ch, rate, frames)

  private def le64(v: Long): Array[Byte] =
    Array.tabulate[Byte](8)(i => (v >>> (i * 8)).toByte)

  /** One Ogg page: "OggS" capture + version 0 + header type + LE64
   * granule + serial/sequence/CRC + lacing table. CRC left zero —
   * parsers that only read structure (ours) don't validate it. */
  private def oggPage(headerType: Int, granule: Long, seq: Int,
      payload: Array[Byte]): Array[Byte] = {
    val full = payload.length / 255
    val segTable = Array.fill[Byte](full)(255.toByte) :+ (payload.length % 255).toByte
    "OggS".getBytes("US-ASCII") ++ Array[Byte](0, headerType.toByte) ++
      le64(granule) ++ le32(7777) ++ le32(seq) ++ le32(0) ++
      Array((full + 1).toByte) ++ segTable ++ payload
  }

  /** A REAL two-page Ogg Opus stream: BOS page with the OpusHead
   * identification packet, EOS page whose granule position encodes
   * the duration on the codec's fixed 48 kHz clock (granule =
   * pre-skip + 48·durMs). */
  def oggOpus(ch: Int, rate: Int, durMs: Long, preSkip: Int = 312): Array[Byte] = {
    val head = "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1, ch.toByte) ++
      le16(preSkip) ++ le32(rate) ++ le16(0) ++ Array[Byte](0)
    oggPage(2, 0L, 0, head) ++ oggPage(4, preSkip + durMs * 48L, 1, Array[Byte](0))
  }

  /** A REAL two-page Ogg Vorbis stream: BOS page with the type-1
   * identification header, EOS page whose granule ticks at the
   * stream's own sample rate (granule = rate·durMs/1000). */
  def oggVorbis(ch: Int, rate: Int, durMs: Long): Array[Byte] = {
    val id = Array[Byte](0x01) ++ "vorbis".getBytes("US-ASCII") ++ le32(0) ++
      Array[Byte](ch.toByte) ++ le32(rate) ++
      le32(0) ++ le32(0) ++ le32(0) ++ Array[Byte](0x00, 0x01) // bitrates, blocksizes, framing
    oggPage(2, 0L, 0, id) ++ oggPage(4, rate.toLong * durMs / 1000L, 1, Array[Byte](0))
  }

  /** EBML element: varint id (marker bits kept, already encoded in the
   * constant) + minimal varint size + payload. */
  private[graft] def ebml(id: Long, payload: Array[Byte]): Array[Byte] = {
    val idBytes = {
      var n = 1
      while ((id >>> (8 * n)) != 0) n += 1
      Array.tabulate[Byte](n)(i => (id >>> (8 * (n - 1 - i))).toByte)
    }
    val len = payload.length
    val sizeBytes = // 1-byte form up to 126, else 2-byte form
      if (len < 127) Array((len | 0x80).toByte)
      else Array((0x40 | (len >> 8)).toByte, (len & 0xff).toByte)
    idBytes ++ sizeBytes ++ payload
  }
  private[tools] def beFloat4(v: Float): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(v)
    Array.tabulate[Byte](4)(i => (bits >>> (8 * (3 - i))).toByte)
  }
  private[graft] def beUintBytes(v: Long): Array[Byte] = {
    var n = 1
    while ((v >>> (8 * n)) != 0) n += 1
    Array.tabulate[Byte](n)(i => (v >>> (8 * (n - 1 - i))).toByte)
  }

  /** A REAL minimal WebM: EBML header + Segment(Info(TimestampScale,
   * float Duration) + Tracks(TrackEntry(Video(PixelWidth/Height) [+
   * Audio(SamplingFrequency, Channels)]))) — enough structure for any
   * spec-following EBML walk, in the spec's own varint encoding. */
  def webm(w: Int, h: Int, durMs: Long, audioCh: Int = 0,
      audioRate: Int = 0): Array[Byte] = {
    val header = ebml(0x1a45dfa3L, ebml(0x4282L, "webm".getBytes("US-ASCII"))) // DocType
    val info = ebml(0x1549a966L,
      ebml(0x2ad7b1L, beUintBytes(1000000L)) ++ // ns per tick
        ebml(0x4489L, beFloat4(durMs.toFloat)))  // ticks (1 tick = 1 ms here)
    val video = ebml(0xe0L,
      ebml(0xb0L, beUintBytes(w)) ++ ebml(0xbaL, beUintBytes(h)))
    val audio = if (audioCh <= 0) Array.emptyByteArray
      else ebml(0xe1L, ebml(0xb5L, beFloat4(audioRate.toFloat)) ++
        ebml(0x9fL, beUintBytes(audioCh)))
    val tracks = ebml(0x1654ae6bL, ebml(0xaeL, video ++ audio))
    header ++ ebml(0x18538067L, info ++ tracks)
  }

  def truncatedWav(): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le32(36) ++ "WA".getBytes("US-ASCII")

  def junk(id: Long): Array[Byte] = {
    val r = new scala.util.Random(id + 7)
    val b = new Array[Byte](64)
    r.nextBytes(b)
    b(0) = 0 // never a RIFF/GIF/BM signature
    b
  }

  /** (mime_type declared by the producer, actual bytes) — declared mime
   * lies on the broken rows, like [[MediaFixture.row]]. */
  def row(id: Long): (String, Array[Byte]) = {
    if (id % 8 == 3) ("audio/wav", truncatedWav())
    else if (id % 8 == 7) ("application/octet-stream", junk(id))
    else id % 4 match {
      case 0 => ("audio/wav", wav(id))
      case 1 => ("image/gif", gif(id))
      case _ => ("image/bmp", bmp(id))
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/av.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("av-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }.toDF("media_id", "mime_type", "media")
    FixtureIo.writeSingleParquet(df, out, rows.toLong)
    spark.stop()
  }
}
