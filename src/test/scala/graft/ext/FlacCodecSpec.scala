package graft.ext

/** FLAC codec ([[FlacCodec]]): because FLAC is LOSSLESS, every round
  * trip asserts EXACT sample equality — a stronger in-repo oracle than
  * any PSNR band. Covers: best-of FIXED predictors with Rice residuals,
  * VERBATIM, CONSTANT, the LPC subframe path (quantized order-2), mono /
  * independent stereo / MID-SIDE decorrelation, multi-frame streams with
  * UTF-8 frame numbers, frame-header CRC-8 + frame CRC-16 rejection, and
  * crafted-input robustness (never throws).
  */
class FlacCodecSpec extends graft.SparkSpec {

  private def tone16(n: Int, freq: Double, amp: Double, sr: Int = 44100): Array[Int] =
    Array.tabulate(n)(i =>
      math.rint(amp * 32000.0 * math.sin(2 * math.Pi * freq * i / sr)).toInt)

  private def noisy(n: Int, seed: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n)(_ => rnd.nextInt(65536) - 32768)
  }

  test("mono FIXED round trip is bit-exact across frame boundaries") {
    val x = tone16(4096 * 2 + 777, 441.0, 0.8) // 3 frames, last short
    val enc = FlacCodec.encode(Array(x), 44100)
    val d = FlacCodec.decode(enc).get
    assert(d.sampleRate == 44100 && d.channels == 1 && d.bitsPerSample == 16)
    assert(d.subframeTypes.contains("fixed"))
    assert(d.samples(0).sameElements(x))
  }

  test("VERBATIM and CONSTANT subframes round trip") {
    val x = noisy(5000, 7) // noise: verbatim leg
    val dv = FlacCodec.decode(FlacCodec.encode(Array(x), 48000,
      strategy = FlacCodec.Verbatim)).get
    assert(dv.subframeTypes.contains("verbatim"))
    assert(dv.samples(0).sameElements(x))
    val c = Array.fill(4096)(-12345) // constant block
    val dc = FlacCodec.decode(FlacCodec.encode(Array(c), 8000)).get
    assert(dc.subframeTypes == Set("constant"))
    assert(dc.samples(0).sameElements(c))
  }

  test("LPC subframe path round trips bit-exactly") {
    val x = tone16(4096 + 100, 1234.5, 0.6)
    val d = FlacCodec.decode(FlacCodec.encode(Array(x), 44100,
      strategy = FlacCodec.Lpc2)).get
    assert(d.subframeTypes.contains("lpc"))
    assert(d.samples(0).sameElements(x))
  }

  test("independent stereo and MID/SIDE both reconstruct exactly") {
    val l = tone16(4096 * 2, 441.0, 0.7)
    val r = tone16(4096 * 2, 1336.0, 0.5)
    val di = FlacCodec.decode(FlacCodec.encode(Array(l, r), 44100)).get
    assert(di.channels == 2)
    assert(di.samples(0).sameElements(l) && di.samples(1).sameElements(r))
    val dm = FlacCodec.decode(FlacCodec.encode(Array(l, r), 44100,
      midSide = true)).get
    assert(dm.samples(0).sameElements(l) && dm.samples(1).sameElements(r))
    // odd l+r parity exercises the mid/side rounding bit
    val l2 = l.map(_ + 1)
    val dm2 = FlacCodec.decode(FlacCodec.encode(Array(l2, r), 44100,
      midSide = true)).get
    assert(dm2.samples(0).sameElements(l2) && dm2.samples(1).sameElements(r))
  }

  test("FIXED beats VERBATIM on tonal content (the predictor does real work)") {
    val x = tone16(4096 * 4, 441.0, 0.8)
    val fixed = FlacCodec.encode(Array(x), 44100).length
    val verbatim = FlacCodec.encode(Array(x), 44100,
      strategy = FlacCodec.Verbatim).length
    assert(fixed < verbatim / 2,
      s"fixed $fixed bytes should be well under verbatim $verbatim")
  }

  test("CRC corruption rejects: header crc8 and frame crc16") {
    val x = tone16(4096, 441.0, 0.8)
    val enc = FlacCodec.encode(Array(x), 44100)
    assert(FlacCodec.decode(enc).isDefined)
    // flip a bit in the first frame header (after fLaC + 4 + 34 metadata)
    val headerFlip = enc.clone()
    headerFlip(42 + 5) = (headerFlip(42 + 5) ^ 0x01).toByte
    assert(FlacCodec.decode(headerFlip).isEmpty)
    // flip a bit deep in the frame payload -> crc16 mismatch
    val bodyFlip = enc.clone()
    bodyFlip(enc.length / 2) = (bodyFlip(enc.length / 2) ^ 0x10).toByte
    assert(FlacCodec.decode(bodyFlip).isEmpty)
  }

  test("crafted inputs never throw") {
    assert(FlacCodec.decode(Array.empty[Byte]).isEmpty)
    assert(FlacCodec.decode("fLaC".getBytes).isEmpty)
    assert(FlacCodec.decode(Array.fill[Byte](64)(0x55)).isEmpty)
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val junk = new Array[Byte](512)
      rnd.nextBytes(junk)
      junk(0) = 'f'; junk(1) = 'L'; junk(2) = 'a'; junk(3) = 'C'
      FlacCodec.decode(junk): Unit
    }
    // truncated mid-frame: whole frames before the cut still decode
    val x = tone16(4096 * 3, 441.0, 0.8)
    val enc = FlacCodec.encode(Array(x), 44100)
    val cut = FlacCodec.decode(java.util.Arrays.copyOf(enc, enc.length - 50))
    assert(cut.isEmpty || cut.get.samples(0).length <= x.length)
  }

  test("decodeAudio sniffs FLAC vs WAV into the shared PcmAudio shape") {
    val x = tone16(4096, 441.0, 0.6)
    val flac = Multimodal.decodeAudio(FlacCodec.encode(Array(x), 44100)).get
    assert(flac.sampleRate == 44100 && flac.channels == 1)
    assert(flac.samples.sameElements(x))
    val wav = Multimodal.decodeAudio(Multimodal.wavPack(x, 44100)).get
    assert(wav.samples.length == x.length)
    // stereo FLAC interleaves l/r
    val r = tone16(4096, 1336.0, 0.5)
    val st = Multimodal.decodeAudio(
      FlacCodec.encode(Array(x, r), 44100, midSide = true)).get
    assert(st.channels == 2 && st.samples.length == x.length * 2)
    assert(st.samples(0) == x(0) && st.samples(1) == r(0))
    // lossy formats are parsed at the container level only: the container
    // walk recognises each stream, and decodeAudio says "not decodable"
    // instead of returning fake PCM
    val mp3 = MediaContainers.mp3Pack(versionId = 3, layer = 3, srIdx = 0,
      mono = true, frames = Seq.fill(8)((9, 0)))
    assert(MediaContainers.parseMp3(mp3).exists(_.nFrames == 8))
    assert(Multimodal.decodeAudio(mp3).isEmpty)
    val vorbis = MediaContainers.oggPack(
      Seq(MediaContainers.vorbisIdPacket(channels = 2, rate = 44100),
        Array.fill[Byte](300)(5)), serial = 5, Seq(0L, 1024L))
    assert(MediaContainers.parseOgg(vorbis).exists(_.codec == "vorbis"))
    assert(Multimodal.decodeAudio(vorbis).isEmpty)
  }

  test("8-bit and 24-bit sample sizes round trip") {
    val x8 = Array.tabulate(1000)(i => (math.sin(i * 0.05) * 100).toInt)
    val d8 = FlacCodec.decode(FlacCodec.encode(Array(x8), 8000, bps = 8,
      blockSize = 512)).get
    assert(d8.bitsPerSample == 8 && d8.samples(0).sameElements(x8))
    val x24 = Array.tabulate(1000)(i => (math.sin(i * 0.02) * 4000000).toInt)
    val d24 = FlacCodec.decode(FlacCodec.encode(Array(x24), 96000, bps = 24,
      blockSize = 512)).get
    assert(d24.bitsPerSample == 24 && d24.samples(0).sameElements(x24))
  }

  test("32-bit PCM round trips (RFC 9639 full range, incl. mid/side)") {
    // full-scale 32-bit values, including both extremes
    val rnd = new scala.util.Random(23)
    val x = Array.tabulate(3000)(i =>
      if (i == 0) Int.MinValue else if (i == 1) Int.MaxValue
      else (math.sin(i * 0.01) * Int.MaxValue * 0.9).toInt + rnd.nextInt(1024))
    val d = FlacCodec.decode(FlacCodec.encode(Array(x), 96000, bps = 32,
      blockSize = 1024)).get
    assert(d.bitsPerSample == 32 && d.samples(0).sameElements(x))
    // verbatim leg: 32-bit noise (mean magnitude drives the Rice writer
    // past method 0's parameter cap on the fixed path, so also exercise
    // the method-1 escalation)
    val noise = Array.tabulate(2000)(_ => rnd.nextInt())
    val dv = FlacCodec.decode(FlacCodec.encode(Array(noise), 44100, bps = 32,
      strategy = FlacCodec.Verbatim)).get
    assert(dv.samples(0).sameElements(noise))
    val dn = FlacCodec.decode(FlacCodec.encode(Array(noise), 44100, bps = 32)).get
    assert(dn.samples(0).sameElements(noise))
    // mid/side at 32 bits: the side channel carries 33 bits
    val l = Array.tabulate(2048)(i => (math.sin(i * 0.03) * Int.MaxValue * 0.8).toInt)
    val r = Array.tabulate(2048)(i => -(math.cos(i * 0.05) * Int.MaxValue * 0.8).toInt)
    val dm = FlacCodec.decode(FlacCodec.encode(Array(l, r), 44100, bps = 32,
      midSide = true)).get
    assert(dm.samples(0).sameElements(l) && dm.samples(1).sameElements(r))
    // extreme side amplitude: l = MaxValue, r = MinValue -> side = 2^32 - 1
    val le = Array.fill(512)(Int.MaxValue); val re = Array.fill(512)(Int.MinValue)
    val dme = FlacCodec.decode(FlacCodec.encode(Array(le, re), 44100, bps = 32,
      midSide = true)).get
    assert(dme.samples(0).sameElements(le) && dme.samples(1).sameElements(re))
  }
}
