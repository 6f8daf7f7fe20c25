package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.{MediaCodec, MultimodalOps}

/** Multimodal plumbing: format sniffing, error routing and the real
  * JDK image/audio decoders (other payloads take the deterministic
  * fake — see MediaCodec). */
class MultimodalSpec extends AnyFunSuite with SparkSessionFixture {

  test("corrupt payloads are routed to the error column, not thrown") {
    import spark.implicits._
    val bad = Seq(
      MultimodalOps.MediaRow(1L, "image", "image/x", None, None, None,
        Array[Byte](1, 2, 3)), // < 64 bytes → corrupt
      MultimodalOps.MediaRow(2L, "image", "image/x", None, None, None,
        Array.fill[Byte](128)(7))).toDS()
    val out = MultimodalOps.imagePHash(bad, 8).collect()
      .sortBy(_.media_id)
    assert(!out(0).ok && out(0).error.contains("corrupt"))
    assert(out(1).ok && out(1).error == null)
  }

  test("sniffFormat classifies magic bytes; garbage and stubs are unknown") {
    import spark.implicits._
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val rows = Seq(
      ("jpeg", b(0xFF, 0xD8, 0xFF, 0xE0, 0, 0, 0, 0)),
      ("png", b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)),
      ("gif", "GIF89a__".getBytes("ISO-8859-1")),
      ("wav", "RIFF....WAVE".getBytes("ISO-8859-1")),
      ("aiff", "FORM....AIFF".getBytes("ISO-8859-1")),
      ("aiff", "FORM....AIFC".getBytes("ISO-8859-1")),
      ("riff", "RIFF....".getBytes("ISO-8859-1")), // truncated: no 4CC
      ("riff", "RIFF....AVI ".getBytes("ISO-8859-1")),
      ("unknown", "FORM....XXXX".getBytes("ISO-8859-1")),
      ("mp4", b(0, 0, 0, 0x20) ++ "ftyp".getBytes("ISO-8859-1")),
      ("mkv", b(0x1A, 0x45, 0xDF, 0xA3, 0x01, 0, 0, 0)),
      ("mp3", "ID3....".getBytes("ISO-8859-1")),
      ("pdf", "%PDF-1.7".getBytes("ISO-8859-1")),
      ("zip", "PK....".getBytes("ISO-8859-1")),
      ("unknown", b(0x01, 0x02, 0x03)),
      ("unknown", Array.emptyByteArray),
      ("unknown", b(0xFF))) // truncated jpeg prefix: no false positive
    val got = rows.zipWithIndex
      .map { case ((exp, p), i) => (i, exp, p) }
      .toDF("i", "expect", "payload")
      .select(col("expect"),
        MultimodalOps.sniffFormat(col("payload")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/$name")
    try in.readAllBytes() finally in.close()
  }

  test("REAL image decode: resample to requested grid, values in [0,1]") {
    val px = MediaCodec.decodeImage(fixture("fixture_6x4.png"), 3, 2)
      .toOption.get
    assert(px.length == 6)
    assert(px.forall(v => v >= 0f && v <= 1f))
    // the fixture is a left-dark right-bright gradient: decode must
    // see real pixels, not the payload-seeded fake (which is uniform
    // noise) — check monotonicity across the resampled row
    assert(px(0) < px(2), s"gradient lost: ${px.toSeq}")
    // png and bmp encode the same pixels losslessly → same resample
    val bmp = MediaCodec.decodeImage(fixture("fixture_6x4.bmp"), 3, 2)
      .toOption.get
    assert(px.toSeq == bmp.toSeq)
  }

  test("sniffFormat agrees with the real decoder on the fixtures") {
    import spark.implicits._
    val rows = Seq(
      ("png", fixture("fixture_6x4.png")),
      ("jpeg", fixture("fixture_6x4.jpg")),
      ("gif", fixture("fixture_6x4.gif"))).toDF("expect", "payload")
    rows.select(col("expect"),
        MultimodalOps.sniffFormat(col("payload")).as("got"))
      .collect()
      .foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  // the committed WAV fixture: 16-bit PCM mono 8 kHz, 1600 frames,
  // sample i = ((i*37) % 20001) - 10000 — a deterministic ramp whose
  // decode is sample-exact (int16/2^15 is exact in Float)
  private def toneSample(i: Int): Int = ((i * 37) % 20001) - 10000

  test("REAL audio decode: committed WAV fixture is sample-exact") {
    val clip = MediaCodec.decodeAudio(fixture("fixture_tone.wav"))
      .toOption.get
    assert(clip.sampleRate == 8000 && clip.channels == 1 &&
      clip.frames == 1600L)
    assert(clip.samples.length == 1600)
    for (i <- 0 until 1600)
      assert(clip.samples(i) == toneSample(i) / 32768.0f,
        s"sample $i: ${clip.samples(i)} vs ${toneSample(i) / 32768.0f}")
    // non-audio payloads >= 64 bytes take the fake path, not WAV decode
    val fake = MediaCodec.decodeAudio(Array.fill[Byte](128)(7)).toOption.get
    assert(fake.sampleRate == 8000 && fake.frames == 1000L)
    // truncated WAV: magic passes, decode reports corrupt (Left)
    assert(MediaCodec.decodeAudio(
      fixture("fixture_tone.wav").take(16)).isLeft)
    assert(MediaCodec.decodeAudio(Array[Byte](1, 2, 3)).isLeft)
  }

  test("compressed-audio magics route to unsupported, never the fake") {
    // real container headers the JDK cannot decode: an MP3/Ogg/FLAC
    // must land in the error column, not masquerade as a decoded clip
    def pad(head: Array[Byte]): Array[Byte] = head ++ Array.fill[Byte](128)(0)
    val id3 = pad(Array[Byte]('I', 'D', '3', 4, 0, 0))
    val mp3 = pad(Array(0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00.toByte))
    val ogg = pad(Array[Byte]('O', 'g', 'g', 'S', 0))
    val flac = pad(Array[Byte]('f', 'L', 'a', 'C', 0))
    for (p <- Seq(id3, mp3, ogg, flac)) {
      val r = MediaCodec.decodeAudio(p)
      assert(r.isLeft && r.swap.toOption.get.startsWith("unsupported:"),
        s"expected unsupported, got $r")
    }
    // the synthetic fixture class (no recognized magic) keeps the fake
    assert(MediaCodec.decodeAudio(Array.fill[Byte](128)(7)).isRight)
  }

  test("video containers route to unsupported from BOTH decode paths") {
    // an MP4 (ftyp at offset 4) or MKV/WebM (EBML) payload must never
    // fake-decode, even when a crawl row mislabels it image or audio
    def pad(head: Array[Byte]): Array[Byte] = head ++ Array.fill[Byte](128)(0)
    val mp4 = pad(Array[Byte](0, 0, 0, 32, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm'))
    val mkv = pad(Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte))
    for (p <- Seq(mp4, mkv)) {
      val a = MediaCodec.decodeAudio(p)
      assert(a.isLeft && a.swap.toOption.get.startsWith("unsupported: video"),
        s"audio path: expected unsupported video, got $a")
      val i = MediaCodec.decodeImage(p, 8, 8)
      assert(i.isLeft && i.swap.toOption.get.startsWith("unsupported: video"),
        s"image path: expected unsupported video, got $i")
    }
  }

  test("AIFF round-trip decodes to the same samples as WAV") {
    // re-encode the fixture clip as AIFF in memory (big-endian PCM)
    // via the JDK's own writer, then decode through the same seam
    import javax.sound.sampled._
    val fmt = new AudioFormat(
      AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, true)
    val pcmBE = new Array[Byte](1600 * 2)
    for (i <- 0 until 1600) {
      val v = toneSample(i)
      pcmBE(2 * i) = (v >> 8).toByte
      pcmBE(2 * i + 1) = v.toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBE), fmt, 1600L)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.AIFF, out)
    val aiff = out.toByteArray
    val wav = MediaCodec.decodeAudio(fixture("fixture_tone.wav")).toOption.get
    val clip = MediaCodec.decodeAudio(aiff).toOption.get
    assert(clip.sampleRate == 8000 && clip.frames == 1600L)
    assert(clip.samples.toSeq == wav.samples.toSeq)
  }

  test("sniffFormat agrees with the real audio decoder on the fixture") {
    import spark.implicits._
    val got = Seq(("wav", fixture("fixture_tone.wav")))
      .toDF("expect", "payload")
      .select(MultimodalOps.sniffFormat(col("payload")).as("got"))
      .collect().head.getString(0)
    assert(got == "wav")
    assert(MediaCodec.decodeAudio(fixture("fixture_tone.wav")).isRight)
  }
}
