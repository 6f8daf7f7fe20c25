package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.{MediaCodec, MultimodalOps}
import graft.multimodal.MultimodalOps.MediaRow

/** DCT perceptual hash ([[MediaCodec.pHash64]]) and the banded image
  * near-dup join ([[MultimodalOps.hammingNearDupPairs]]) on REAL encoded
  * images (ImageIO-written PNG/BMP bytes, deterministic pixel
  * programs — no fixtures needed):
  *
  *   1. container invariance: the same pixels encoded as PNG and BMP
  *      hash IDENTICALLY (the hash sees pixels, not bytes);
  *   2. DCT linearity: a uniform brightness shift moves only the DC
  *      coefficient → hamming distance ≤ 1;
  *   3. light localized noise moves few bits; structurally different
  *      images are far (the separation the banding relies on);
  *   4. the pigeonhole banding finds EXACTLY the brute-force pairs at
  *      the distance bound (recall 1.0 by construction — d+1 disjoint
  *      bands, two hashes within d must agree on one);
  *   5. decode failures route to the error column, not exceptions.
  */
class ImagePHashSpec extends AnyFunSuite with SparkSessionFixture {

  private val Dim = 32

  /** Encode a pixel program as image bytes via ImageIO. */
  private def encode(fmt: String, w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, math.max(0, math.min(255, px(x, y))))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** Textured deterministic image: a seeded 9×9 coarse grid upscaled
    * bilinearly to 64×64 — rich LOW-frequency spectrum (exactly the
    * coefficients pHash keeps) with magnitudes well away from the
    * median, so bits are structure, not tie-noise. An axis-aligned
    * gradient would be degenerate here: all vertical-frequency
    * coefficients ≈ 0 ≈ median, and every bit is rounding luck. */
  private def textured(seed: Long, shift: Int = 0)(x: Int, y: Int): Int = {
    def cell(i: Int, j: Int): Double = {
      // splitmix-style finalizer — a plain product's low bytes are
      // not seed-sensitive for small seeds
      var h = i * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL +
        seed * 0x165667B19E3779F9L
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      ((h >>> 24) & 0xffL).toDouble / 255.0 * 160.0 + 40.0
    }
    val fx = x / 8.0; val fy = y / 8.0
    val i = fx.toInt; val j = fy.toInt
    val dx = fx - i; val dy = fy - j
    val v = cell(i, j) * (1 - dx) * (1 - dy) + cell(i + 1, j) * dx * (1 - dy) +
      cell(i, j + 1) * (1 - dx) * dy + cell(i + 1, j + 1) * dx * dy
    v.toInt + shift
  }

  private def hashOf(bytes: Array[Byte]): Long =
    MediaCodec.pHash64(
      MediaCodec.decodeImage(bytes, Dim, Dim).toOption.get, Dim)

  private def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("container invariance: PNG and BMP of the same pixels hash identically") {
    val png = encode("png", 64, 64)(textured(1))
    val bmp = encode("bmp", 64, 64)(textured(1))
    assert(!java.util.Arrays.equals(png, bmp)) // genuinely different bytes
    assert(hashOf(png) == hashOf(bmp))
  }

  test("uniform brightness shift flips at most the DC bit") {
    val base = hashOf(encode("png", 64, 64)(textured(1)))
    val brighter = hashOf(encode("png", 64, 64)(textured(1, shift = 25)))
    assert(dist(base, brighter) <= 1)
  }

  test("noise is near; different structure is far") {
    val base = hashOf(encode("png", 64, 64)(textured(1)))
    val noised = hashOf(encode("png", 64, 64) { (x, y) =>
      textured(1)(x, y) + (if ((x * 31 + y * 17) % 97 == 0) 40 else 0)
    })
    val other = hashOf(encode("png", 64, 64)(textured(2)))
    assert(dist(base, noised) < 10,
      s"noise moved ${dist(base, noised)} bits")
    assert(dist(base, other) > 16,
      s"different structure only ${dist(base, other)} bits apart")
  }

  test("banded near-dup pairs == brute force at the distance bound") {
    import spark.implicits._
    val imgs = Seq(
      0L -> encode("png", 64, 64)(textured(1)),
      1L -> encode("bmp", 64, 64)(textured(1)),             // dup of 0
      2L -> encode("png", 64, 64)(textured(1, shift = 25)), // near-dup of 0/1
      3L -> encode("png", 64, 64)(textured(2)),             // unrelated
      4L -> encode("png", 48, 80)(textured(3)))             // unrelated
    val media = imgs.map { case (id, b) =>
      MediaRow(id, "image", "image/x-test", None, None, None, b)
    }.toDS()
    val hashes = MultimodalOps.imagePHash(media, Dim)
    val hs = hashes.collect().map(h => h.media_id -> h.phash).toMap
    assert(hashes.filter(!_.ok).count() == 0)
    val maxDist = 6
    val (pairs, _) = MultimodalOps.hammingNearDupPairs(
      hashes.toDF(), "media_id", "phash", maxDist)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      a <- imgs.map(_._1); b <- imgs.map(_._1) if a < b
      d = dist(hs(a), hs(b)) if d <= maxDist
    } yield (a, b, d)).toSet
    assert(got == want)
    assert(want.exists { case (a, b, _) => a == 0L && b == 1L }) // the planted dup
    assert(!want.exists { case (a, b, _) => b == 3L || a == 3L }) // seed 2 is far
  }

  test("committed image fixture is fresh: recomputed pHash == image_phash.parquet") {
    // the d22/d23 oracles trust fixtures/image_phash.parquet to be the
    // decode path's CURRENT output — a codec change without a
    // DumpImageFixture re-run must fail HERE, not in the driver's
    // oracle compare
    import spark.implicits._
    val media = spark.read
      .parquet(s"${SparkEntry.FixtureDir}/media_images.parquet")
      .as[MediaRow]
    val recomputed = MultimodalOps.imagePHash(media, Dim)
      .filter(_.ok).collect().map(h => h.media_id -> h.phash).toMap
    val committed = spark.read
      .parquet(s"${SparkEntry.FixtureDir}/image_phash.parquet")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(committed.nonEmpty && recomputed == committed,
      "stale image fixture — re-run graft.tools.DumpImageFixture")
  }

  test("failed decodes never reach the banded join (ok filter inside imageNearDupPairs)") {
    import spark.implicits._
    // two failures share the sentinel 0L hash; without the ok filter
    // they'd report as an exact-dup pair (r11 advice)
    val hashes = Seq(
      MultimodalOps.ImageHash(1L, ok = false, "corrupt: too short", 0L),
      MultimodalOps.ImageHash(2L, ok = false, "corrupt: too short", 0L),
      MultimodalOps.ImageHash(3L, ok = true, null, 0L),
      MultimodalOps.ImageHash(4L, ok = true, null, 1L)).toDS().toDF()
    val (pairs, _) = MultimodalOps.hammingNearDupPairs(hashes, "media_id", "phash", 6)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((3L, 4L, 1)))
  }

  test("imageDedupLabels end-to-end: min-id keeper per cluster, singletons self-kept, failures excluded") {
    import spark.implicits._
    // two planted clusters ({0,1,2}: exact + brightness near-dups;
    // {10,11}: exact), one singleton (20), one decode failure (99)
    val media = Seq(
      0L -> encode("png", 64, 64)(textured(1)),
      1L -> encode("bmp", 64, 64)(textured(1)),
      2L -> encode("png", 64, 64)(textured(1, shift = 25)),
      10L -> encode("png", 48, 80)(textured(7)),
      11L -> encode("bmp", 48, 80)(textured(7)),
      20L -> encode("png", 64, 64)(textured(9))).map { case (id, b) =>
      MediaRow(id, "image", "image/x-test", None, None, None, b)
    } :+ MediaRow(99L, "image", "image/x-test", None, None, None,
      Array.fill[Byte](8)(1))
    val (labels, _) = MultimodalOps.hammingDedupLabels(
      MultimodalOps.imagePHash(media.toDS(), Dim).toDF(),
      "media_id", "phash", maxDist = 6)
    val out = labels.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 20L)) // 99 excluded
    assert(out(0L) == ((0L, 3L, true)))
    assert(out(1L) == ((0L, 3L, false)))
    assert(out(2L) == ((0L, 3L, false)))
    assert(out(10L) == ((10L, 2L, true)))
    assert(out(11L) == ((10L, 2L, false)))
    assert(out(20L) == ((20L, 1L, true)))
    // exactly one keeper per cluster
    assert(out.values.count(_._3) == 3)
  }

  test("decode failures route to the error column") {
    import spark.implicits._
    val media = Seq(
      MediaRow(0L, "image", "image/x-test", None, None, None,
        Array.fill[Byte](8)(1))). // too short: corrupt path
      toDS()
    val out = MultimodalOps.imagePHash(media, Dim).collect()
    assert(out.length == 1 && !out(0).ok && out(0).error.startsWith("corrupt"))
  }
}
