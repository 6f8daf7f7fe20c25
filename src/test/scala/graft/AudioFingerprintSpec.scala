package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaCodec, MultimodalOps}
import graft.multimodal.MultimodalOps.MediaRow
import graft.tools.DumpAudioFixture.{baseSamples, clicked, encode, halved}

/** 64-bit spectral audio fingerprint
  * ([[MediaCodec.audioFingerprint64]]) and its banded near-dup /
  * dedup composition, on REAL encoded WAV/AIFF clips (the
  * DumpAudioFixture generators — deterministic tone mixtures):
  *
  *   1. container invariance: the same PCM samples as little-endian
  *      WAV and big-endian AIFF fingerprint IDENTICALLY;
  *   2. volume invariance BY CONSTRUCTION: an exact half-volume copy
  *      scales every band energy by 0.25 and preserves every delta
  *      sign → distance exactly 0;
  *   3. sparse click noise moves few bits; different tone content is
  *      far (the separation the banding relies on);
  *   4. the committed fixture is fresh (codec change without a
  *      re-dump fails here, not in the driver's oracle);
  *   5. end-to-end dedup labels: keeper policy over planted families;
  *   6. decode failures route to the error column.
  */
class AudioFingerprintSpec extends AnyFunSuite with SparkSessionFixture {

  private def fpOf(bytes: Array[Byte]): Long =
    MediaCodec.audioFingerprint64(MediaCodec.decodeAudio(bytes).toOption.get)

  private def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("container invariance: WAV and AIFF of the same samples fingerprint identically") {
    val b = baseSamples(1)
    val wav = encode(aiff = false, b)
    val aif = encode(aiff = true, b)
    assert(!java.util.Arrays.equals(wav, aif)) // genuinely different bytes
    assert(fpOf(wav) == fpOf(aif))
  }

  test("half-volume copy is at distance exactly 0 (sign-of-delta invariance)") {
    val b = baseSamples(2)
    assert(dist(fpOf(encode(aiff = false, b)),
      fpOf(encode(aiff = false, halved(b)))) == 0)
  }

  test("click noise is near; different tone content is far") {
    val b = baseSamples(3)
    val base = fpOf(encode(aiff = false, b))
    val near = fpOf(encode(aiff = false, clicked(b)))
    val far = fpOf(encode(aiff = false, baseSamples(4)))
    assert(dist(base, near) <= 7, s"click moved ${dist(base, near)} bits")
    assert(dist(base, far) > 12,
      s"different content only ${dist(base, far)} bits apart")
  }

  test("committed audio fixture is fresh: recomputed fingerprints == audio_afp.parquet") {
    import spark.implicits._
    val media = spark.read
      .parquet(s"${SparkEntry.FixtureDir}/media_audio.parquet")
      .as[MediaRow]
    val recomputed = MultimodalOps.audioFingerprint(media)
      .filter(_.ok).collect().map(h => h.media_id -> h.afp).toMap
    val committed = spark.read
      .parquet(s"${SparkEntry.FixtureDir}/audio_afp.parquet")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(committed.nonEmpty && recomputed == committed,
      "stale audio fixture — re-run graft.tools.DumpAudioFixture")
  }

  test("hammingDedupLabels end-to-end on planted audio families") {
    import spark.implicits._
    // family {0,1,2,3}: base WAV, AIFF twin, half-volume, clicked;
    // singleton 20; decode failure 99
    val b = baseSamples(5)
    val media = Seq(
      0L -> encode(aiff = false, b),
      1L -> encode(aiff = true, b),
      2L -> encode(aiff = false, halved(b)),
      3L -> encode(aiff = false, clicked(b)),
      20L -> encode(aiff = false, baseSamples(6))).map { case (id, p) =>
      MediaRow(id, "audio", "audio/x-test", None, None, None, p)
    } :+ MediaRow(99L, "audio", "audio/x-test", None, None, None,
      "RIFF    WAVE".getBytes("ISO-8859-1"))
    val (labels, _) = MultimodalOps.hammingDedupLabels(
      MultimodalOps.audioFingerprint(media.toDS()).toDF(),
      "media_id", "afp", maxDist = 7)
    val out = labels.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 20L)) // 99 excluded
    assert(out(0L) == ((0L, 4L, true)))
    assert(out(1L) == ((0L, 4L, false)))
    assert(out(2L) == ((0L, 4L, false)))
    assert(out(3L) == ((0L, 4L, false)))
    assert(out(20L) == ((20L, 1L, true)))
  }

  test("decode failures route to the error column") {
    import spark.implicits._
    val media = Seq(MediaRow(0L, "audio", "audio/x-test", None, None, None,
      "RIFF    WAVE".getBytes("ISO-8859-1"))).toDS()
    val out = MultimodalOps.audioFingerprint(media).collect()
    assert(out.length == 1 && !out(0).ok && out(0).error.startsWith("corrupt"))
  }
}
