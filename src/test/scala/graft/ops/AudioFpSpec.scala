package graft.ops

import graft.SparkSpec
import graft.tools.{AudioDupFixture, FlacEncoder}

class AudioFpSpec extends SparkSpec {

  test("fft matches the direct DFT on a small frame") {
    val n = 16
    val re = Array.tabulate(n)(i => math.sin(i * 0.7) + 0.3 * math.cos(i * 2.1))
    val im = new Array[Double](n)
    val fr = re.clone(); val fi = im.clone()
    AudioFp.fft(fr, fi)
    for (k <- 0 until n) {
      var dr = 0.0; var di = 0.0
      for (t <- 0 until n) {
        val a = -2 * math.Pi * k * t / n
        dr += re(t) * math.cos(a); di += re(t) * math.sin(a)
      }
      assert(math.abs(fr(k) - dr) < 1e-9 && math.abs(fi(k) - di) < 1e-9, s"bin $k")
    }
  }

  test("fingerprint is exactly invariant to global amplitude scaling") {
    val pcm = AudioDupFixture.basePcm(3L)
    val wav = AudioDupFixture.wav(pcm)
    // float-domain halving BEFORE quantization: energies scale by c²
    // uniformly, every delta sign unchanged
    val half = AudioDupFixture.wav(pcm.map(_ / 2))
    val a = AudioFp.signature(wav).get
    val b = AudioFp.signature(half).get
    // /2 on ints is not exactly c× (truncation), so allow the same
    // near-dup bound the pair face uses rather than bit equality
    val d = (0 until AudioFp.SigBands).map(k => Integer.bitCount(a(k) ^ b(k))).sum
    assert(d <= 3, s"halved level at hamming $d")
  }

  test("a WAV and its lossless FLAC re-encode fingerprint IDENTICALLY") {
    val pcm = AudioDupFixture.basePcm(5L)
    val wav = AudioDupFixture.wav(pcm)
    val flac = FlacEncoder.encode(pcm, 1, AudioDupFixture.SampleRate, 1024,
      Seq(FlacEncoder.FramePlan(FlacEncoder.Verbatim, 0, 0, 0)))
    assert(AudioFp.signature(wav).get.toSeq == AudioFp.signature(flac).get.toSeq)
  }

  test("junk and too-short audio claim nothing") {
    assert(AudioFp.signature("not audio".getBytes("US-ASCII")).isEmpty)
    assert(AudioFp.signature(
      AudioDupFixture.wav(Array.fill(1000)(5))).isEmpty) // under the 8-eighth minimum
  }

  test("aiff / au / companded-WAV / ADPCM decode signed waveforms (coverage flips)") {
    import graft.tools.AudioFixture
    // id 6 is the IMA ADPCM class since round 19
    for (id <- Seq(0L, 1L, 2L, 4L, 5L, 6L)) {
      val s = AudioFp.monoSamples(AudioFixture.row(id)._2).getOrElse(
        sys.error(s"id=$id claims nothing"))
      // the fixture is silence then a full-scale positive step: a
      // SIGNED decode reads ~0 then ~+1 (an offset/unsigned misread
      // would push the silent half to ±0.5 or the step negative)
      assert(math.abs(s.head) < 0.01f, s"id=$id head ${s.head}")
      assert(s.last > 0.9f, s"id=$id last ${s.last}")
    }
    assert(AudioFp.monoSamples(AudioFixture.row(3L)._2).isEmpty) // cut aiff
    assert(AudioFp.monoSamples(AudioFixture.row(7L)._2).isEmpty) // junk
  }

  test("an IMA ADPCM re-encode fingerprints within the codec gate of its PCM twin") {
    import graft.tools.Mp3DupFixture
    // the codec-dedup signal family (stationary, ≥7 dB band margins —
    // what q_m43 matches MP3 re-encodes on): the same clip as 16-bit
    // WAV and as a 4-bit IMA ADPCM re-encode must land inside the
    // codec-grade gate. (The AudioDup AM+chirp family is designed for
    // the lossless ≤3 gate; ADPCM's ~24 dB quantization noise on
    // 4-frame segment sums flips its borderline bits past 7 — the
    // codec gate is calibrated on codec-dedup signals, like MP3's.)
    for (g <- Seq(1L, 4L)) {
      val pcm = Mp3DupFixture.basePcm(g)
      val wav = Mp3DupFixture.wav(pcm)
      val adpcm = graft.tools.AvFixture.adpcmWav(
        (f, _) => if (f < pcm.length) pcm(f) else 0,
        1, Mp3DupFixture.SampleRate, pcm.length)
      val a = AudioFp.signature(wav).get
      val b = AudioFp.signature(adpcm).get
      val d = (0 until AudioFp.SigBands).map(k => Integer.bitCount(a(k) ^ b(k))).sum
      assert(d <= 7, s"group $g adpcm twin at hamming $d")
    }
  }

  test("24/32-bit and IEEE-float WAVs decode signed and fingerprint-match their 16-bit twin") {
    import graft.tools.Mp3DupFixture
    val pcm = Mp3DupFixture.basePcm(8L)
    def wavOf(fmt: Int, bits: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def le32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      val bp = bits / 8
      val dataLen = pcm.length * bp
      ascii("RIFF"); le32(36 + dataLen); ascii("WAVE")
      ascii("fmt "); le32(16); le16(fmt); le16(1); le32(32000)
      le32(32000 * bp); le16(bp); le16(bits)
      ascii("data"); le32(dataLen)
      pcm.foreach { v =>
        if (fmt == 3) le32(java.lang.Float.floatToIntBits(v / 32768f))
        else if (bits == 24) { val s = v << 8; out.write(s & 0xff)
          out.write((s >> 8) & 0xff); out.write((s >> 16) & 0xff) }
        else le32(v << 16) // 32-bit PCM
      }
      out.toByteArray
    }
    val ref = AudioFp.signature(Mp3DupFixture.wav(pcm)).get
    for ((fmt, bits, name) <- Seq((1, 24, "pcm24"), (1, 32, "pcm32"), (3, 32, "float32"))) {
      val w = wavOf(fmt, bits)
      val s = AudioFp.monoSamples(w).getOrElse(sys.error(s"$name claims nothing"))
      assert(s.length == pcm.length)
      // signed + correctly scaled: the samples match the 16-bit
      // source to quantization precision
      var maxErr = 0.0
      var i = 0
      while (i < s.length) {
        maxErr = math.max(maxErr, math.abs(s(i) - pcm(i) / 32768.0)); i += 1
      }
      assert(maxErr < 1e-4, s"$name max sample error $maxErr")
      val sig = AudioFp.signature(w).get
      val d = (0 until AudioFp.SigBands).map(k => Integer.bitCount(ref(k) ^ sig(k))).sum
      assert(d <= 3, s"$name twin at hamming $d")
    }
    // a float WAV carrying NaNs/overrange values reads as clamped
    // silence, never an exception
    val hostile = wavOf(3, 32).clone()
    java.util.Arrays.fill(hostile, 60, 180, 0xff.toByte)
    assert(AudioFp.monoSamples(hostile).isDefined)
    // 24-bit AIFF (BE) and 24/32-bit AU: same contract through the
    // shared BE readers
    def aiffOf(bits: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def be32(v: Int): Unit = { out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
        out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      val bp = bits / 8
      val dataLen = pcm.length * bp
      // COMM with an 80-bit extended rate (32000 = 0x400D fa00...)
      ascii("FORM"); be32(12 + 26 + 16 + dataLen); ascii("AIFF")
      ascii("COMM"); be32(18); be16(1); be32(pcm.length); be16(bits)
      out.write(0x40); out.write(0x0d); out.write(0xfa); out.write(0)
      out.write(0); out.write(0); out.write(0); out.write(0); out.write(0); out.write(0)
      ascii("SSND"); be32(8 + dataLen); be32(0); be32(0)
      pcm.foreach { v =>
        val s = v << (bits - 16)
        var k = bp - 1
        while (k >= 0) { out.write((s >> (8 * k)) & 0xff); k -= 1 }
      }
      out.toByteArray
    }
    def auOf(enc: Int, bits: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Int): Unit = { out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
        out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      out.write('.'); out.write('s'); out.write('n'); out.write('d')
      val bp = bits / 8
      be32(24); be32(pcm.length * bp); be32(enc); be32(32000); be32(1)
      pcm.foreach { v =>
        val s = v << (bits - 16)
        var k = bp - 1
        while (k >= 0) { out.write((s >> (8 * k)) & 0xff); k -= 1 }
      }
      out.toByteArray
    }
    for ((bytes, name) <- Seq((aiffOf(24), "aiff24"), (aiffOf(32), "aiff32"),
        (auOf(4, 24), "au24"), (auOf(5, 32), "au32"))) {
      val s = AudioFp.monoSamples(bytes).getOrElse(sys.error(s"$name claims nothing"))
      assert(s.length == pcm.length, name)
      var maxErr = 0.0
      var i = 0
      while (i < s.length) {
        maxErr = math.max(maxErr, math.abs(s(i) - pcm(i) / 32768.0)); i += 1
      }
      assert(maxErr < 1e-4, s"$name max sample error $maxErr")
      val sig = AudioFp.signature(bytes).get
      val d = (0 until AudioFp.SigBands).map(k => Integer.bitCount(ref(k) ^ sig(k))).sum
      assert(d <= 3, s"$name twin at hamming $d")
    }
  }

  test("MP3-in-TS: PES reassembly recovers the elementary stream, decode and gate hold") {
    import graft.tools.{Mp3DupFixture, Mp3Encoder, TsFixture}
    val pcm = Mp3DupFixture.basePcm(3L)
    val mp3 = Mp3Encoder.encode(pcm, Mp3DupFixture.SampleRate)
    val ts = TsFixture.tsFromAudioEs(mp3)
    // ES recovery is byte-exact (PES boundaries don't align to frames)
    assert(Multimodal.AvHeaders.tsMpegAudioEs(ts).exists(_.sameElements(mp3)))
    assert(AudioFp.audioContainer(ts) == "mpeg-ts")
    // the TS wrap decodes to the SAME samples as the bare stream
    val bare = AudioFp.monoSamples(mp3).get
    val wrapped = AudioFp.monoSamples(ts).get
    assert(wrapped.length == bare.length && wrapped.sameElements(bare))
    // and the fingerprint twin pair (WAV vs MP3-in-TS) stays inside
    // the codec gate — HLS audio segments dedup against originals
    val a = AudioFp.signature(Mp3DupFixture.wav(pcm)).get
    val b = AudioFp.signature(ts).get
    val d = (0 until AudioFp.SigBands).map(k => Integer.bitCount(a(k) ^ b(k))).sum
    assert(d <= 7, s"ts-wrapped twin at hamming $d")
    // junk ES wrapped in a valid TS grid claims nothing
    assert(AudioFp.monoSamples(
      TsFixture.tsFromAudioEs("junk, not audio".getBytes("US-ASCII"))).isEmpty)
    // the VIDEO ts fixture has no MPEG-audio stream: claims nothing
    assert(AudioFp.monoSamples(TsFixture.ts(2L)).isEmpty)
  }

  test("TS with TWO audio programs: only the first (lowest) PID's ES is reassembled") {
    import graft.tools.{Mp3DupFixture, Mp3Encoder}
    val pcm = Mp3DupFixture.basePcm(3L)
    val mp3 = Mp3Encoder.encode(pcm, Mp3DupFixture.SampleRate)
    val base = Remux.mpegAudioEsToTs(mp3) // PAT + PMT(258) + audio pkts
    // PMT naming TWO MPEG-audio streams: PID 258 (0x03) and PID 300
    // (0x04, junk) — round-20 ADVICE fix: concatenating both would
    // produce one corrupted ES matching neither twin
    val decoyPid = 300
    val pmt2 = Array[Byte](0x02, 0xb0.toByte, 23,
      0, 1, 0xc1.toByte, 0, 0,
      (0xe0 | (258 >> 8)).toByte, (258 & 0xff).toByte, 0xf0.toByte, 0,
      0x03, (0xe0 | (258 >> 8)).toByte, (258 & 0xff).toByte, 0xf0.toByte, 0,
      0x04, (0xe0 | (decoyPid >> 8)).toByte, (decoyPid & 0xff).toByte,
      0xf0.toByte, 0,
      0, 0, 0, 0) // dummy CRC
    // one junk PES packet on the decoy PID (PUSI, headerless-optional)
    val junkPes = {
      val p = new Array[Byte](188)
      p(0) = 0x47
      p(1) = (0x40 | (decoyPid >> 8)).toByte
      p(2) = (decoyPid & 0xff).toByte
      p(3) = 0x10 // payload only
      p(4) = 0; p(5) = 0; p(6) = 1; p(7) = 0xc0.toByte // PES start
      p(8) = 0; p(9) = ((188 - 10) & 0xff).toByte // PES_packet_length
      p(10) = 0x80.toByte; p(11) = 0; p(12) = 0 // '10', no PTS, hdl 0
      var j = 13
      while (j < 188) { p(j) = ((j * 31) & 0x7f).toByte; j += 1 }
      p
    }
    val audioPkts = base.drop(2 * 188)
    val ts2 = Remux.psiPacket(0, Remux.pat()) ++
      Remux.psiPacket(Remux.PmtPid, pmt2) ++ junkPes ++ audioPkts ++ junkPes
    val es = Multimodal.AvHeaders.tsMpegAudioEs(ts2)
    assert(es.exists(_.sameElements(mp3)),
      "decoy-PID payloads leaked into the reassembled ES")
    assert(AudioFp.monoSamples(ts2).exists(
      _.sameElements(AudioFp.monoSamples(mp3).get)))
    // an MPEG-2 LSF elementary stream in TS (stream_type 0x04 is
    // already in the walk's accepted set) decodes end to end too
    val lsf = Mp3Encoder.encodeLsfMono(pcm, 22050)
    val tsLsf = Remux.mpegAudioEsToTs(lsf)
    assert(AudioFp.monoSamples(tsLsf).exists(
      _.sameElements(AudioFp.monoSamples(lsf).get)),
      "LSF-in-TS decodes differently from the bare LSF stream")
  }

  test("AIFF-C: sowt/fl32/NONE decode identically, ima4 honestly claims nothing") {
    import graft.tools.AifcFixture
    // ids 0,1,2 differ in compressionType arithmetic, so build one id
    // under each type directly: same PCM, three encodings
    val id = 4L
    val sowt = AudioFp.monoSamples(AifcFixture.aifc(id, "sowt")).get
    val none = AudioFp.monoSamples(AifcFixture.aifc(id, "NONE")).get
    val fl32 = AudioFp.monoSamples(AifcFixture.aifc(id, "fl32")).get
    assert(sowt.length == AifcFixture.frames(id))
    assert(sowt.sameElements(none), "sowt and BE PCM decode apart")
    assert(fl32.sameElements(none), "fl32 and PCM16 decode apart " +
      "(float32 of s/32768 is exact)")
    // stereo variant too (odd ids are 2-channel)
    val st = AudioFp.monoSamples(AifcFixture.aifc(5L, "sowt")).get
    assert(st.length == AifcFixture.frames(5L))
    assert(st.sameElements(AudioFp.monoSamples(AifcFixture.aifc(5L, "NONE")).get))
    // the compressed class: container parses, decode refuses
    val ima = AifcFixture.aifc(id, "ima4")
    assert(AudioFp.audioContainer(ima) == "aiff")
    assert(AudioFp.monoSamples(ima).isEmpty)
    // the fixture contract on every committed row: all but ima4 decode
    // to their frame count
    (0L until 200L).foreach { id =>
      val s = AudioFp.monoSamples(AifcFixture.row(id)._2)
      if (id % 4 == 3) assert(s.isEmpty, s"ima4 id=$id decoded")
      else assert(s.exists(_.length == AifcFixture.frames(id)), s"id=$id did not decode")
    }
    // a plain-AIFF reader regression guard: the JDK-written AIFF
    // fixture class still decodes through the same (widened) reader
    import graft.tools.AudioFixture
    assert(AudioFp.monoSamples(AudioFixture.row(0L)._2).nonEmpty)
  }

  test("container sniff labels every fixture class the oracle expects") {
    import graft.tools.{AacFixture, AudioFixture, FlacFixture, Mp3Fixture, OggFixture}
    assert(AudioFp.audioContainer(AudioDupFixture.row(0L)._2) == "wav")
    assert(AudioFp.audioContainer(AudioDupFixture.row(1L)._2) == "flac")
    assert(AudioFp.audioContainer(AudioDupFixture.row(14L)._2) == "other") // junk group
    assert(AudioFp.audioContainer(Mp3Fixture.row(0L)._2) == "mp3")
    assert(AudioFp.audioContainer(Mp3Fixture.row(3L)._2) == "id3-tag-only")
    assert(AudioFp.audioContainer(Mp3Fixture.row(7L)._2) == "other")
    assert(AudioFp.audioContainer(AacFixture.row(0L)._2) == "aac-adts")
    assert(AudioFp.audioContainer(AacFixture.row(3L)._2) == "id3-tag-only")
    assert(AudioFp.audioContainer(OggFixture.row(0L)._2) == "ogg")
    assert(AudioFp.audioContainer(OggFixture.row(3L)._2) == "ogg") // cut, magic kept
    assert(AudioFp.audioContainer(FlacFixture.row(0L)._2) == "flac")
    assert(AudioFp.audioContainer(AudioFixture.row(0L)._2) == "aiff")
    assert(AudioFp.audioContainer(AudioFixture.row(1L)._2) == "au")
    assert(AudioFp.audioContainer(AudioFixture.row(4L)._2) == "wav")
    assert(AudioFp.audioContainer(AudioFixture.row(6L)._2) == "wav-adpcm")
  }

  test("pair face: exact pair set over the fixture, banded join recall") {
    import spark.implicits._
    val rows = (0L until 32L).map { id =>
      val (m, b) = AudioDupFixture.row(id); (id, m, b)
    }
    val fps = AudioFp.fingerprintTable(spark,
      rows.toDF("media_id", "mime_type", "media"))
    val pairs = AudioFp.nearDupPairs(fps)
      .select("media_id_a", "media_id_b").as[(Long, Long)].collect().toSet
    val want = (0L until 16L).filter(_ % 8 != 7).map(g => (2 * g, 2 * g + 1)).toSet
    assert(pairs == want, s"got $pairs")
  }
}
