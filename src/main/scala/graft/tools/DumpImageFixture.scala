package graft.tools

import graft.multimodal.MultimodalOps
import graft.multimodal.MultimodalOps.MediaRow
import graft.tools.FixtureFiles.writeSingle

/** One-shot fixture dump for the IMAGE near-dup oracle (the
  * DumpModelFixture device applied to the visual dedup family):
  *
  *   fixtures/media_images.parquet  (full MediaRow schema — real
  *                                   ImageIO-encoded PNG/BMP payloads)
  *   fixtures/image_phash.parquet   (media_id, phash — the 64-bit DCT
  *                                   pHash of each DECODABLE image,
  *                                   computed through the engine's own
  *                                   [[MultimodalOps.imagePHash]] path)
  *
  * so `d22_image_neardup` / `d23_image_dedup` can be verified in pure
  * SQL: DuckDB recomputes the pair set ALL-PAIRS from the committed
  * hash table (`bit_count(xor(...))`) and the closure by recursive
  * CTE, which checks BOTH banding completeness (banded join == exact
  * all-pairs) AND decode+pHash determinism against committed values.
  *
  * The images are deterministic pixel programs (the ImagePHashSpec
  * generator family): a seeded coarse grid upscaled bilinearly —
  * rich low-frequency spectrum, exactly the coefficients pHash keeps.
  * Planted structure: 40 dup families of 3 (PNG base, BMP exact twin,
  * +25 brightness near-dup — DC-only, ≤ 1 bit), 80 unrelated
  * singletons, 1 corrupt payload (exercises the ok=false routing; the
  * hash fixture excludes it exactly as the queries' ok filter does)
  * and 1 unknown-container payload (routes to MediaCodec's documented
  * deterministic fake-decode path — its stable pHash rides the oracle
  * like any other singleton, pinning that path's determinism too).
  * Committed to the repo; re-run after any codec change. */
object DumpImageFixture {

  /** Seeded textured image: 9×9 splitmix-hashed coarse grid upscaled
    * bilinearly — structure lives in the low frequencies, magnitudes
    * well away from the median so hash bits are structure, not
    * tie-noise (an axis-aligned gradient would be degenerate). */
  private def textured(seed: Long, shift: Int = 0)(x: Int, y: Int): Int = {
    def cell(i: Int, j: Int): Double = {
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

  private def encode(fmt: String, w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, math.max(0, math.min(255, px(x, y))))
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "fixtures"
    val spark = graft.SparkEntry.localSession(4)
    import spark.implicits._

    def row(id: Long, bytes: Array[Byte], w: Int, h: Int): MediaRow =
      MediaRow(id, "image", "image/x-fixture", Some(w), Some(h), None, bytes)

    // 40 dup families of 3: ids f*10 / f*10+1 / f*10+2; seeds 1..40.
    // Alternate canvas sizes so the resample path sees both shapes.
    val families = (1 to 40).flatMap { f =>
      val (w, h) = if (f % 2 == 0) (64, 64) else (48, 80)
      Seq(
        row(f * 10L, encode("png", w, h)(textured(f)), w, h),
        row(f * 10L + 1, encode("bmp", w, h)(textured(f)), w, h),
        row(f * 10L + 2, encode("png", w, h)(textured(f, shift = 25)), w, h))
    }
    // 80 unrelated singletons: ids 1000+i, seeds 1000+i
    val singles = (0 until 80).map { i =>
      val (w, h) = if (i % 2 == 0) (64, 64) else (80, 48)
      row(1000L + i, encode("png", w, h)(textured(1000L + i)), w, h)
    }
    // 1 genuinely-corrupt payload (too short — ok=false, excluded from
    // the hash fixture by the same ok filter the queries apply) and
    // 1 unknown-container payload (no magic-byte match — takes the
    // documented deterministic fake-decode path, so its pHash is a
    // stable oracle-checked singleton)
    val corrupt = Seq(
      MediaRow(9000L, "image", "image/x-fixture", None, None, None,
        Array.fill[Byte](8)(1)),
      MediaRow(9001L, "image", "image/x-fixture", None, None, None,
        Array.tabulate[Byte](64)(i => (i * 7).toByte)))

    val media = (families ++ singles ++ corrupt).toDS()
    writeSingle(media.toDF(), s"$out/media_images.parquet")

    val hashes = MultimodalOps.imagePHash(media, dim = 32)
    val okHashes = hashes.filter(_.ok)
      .select($"media_id", $"phash")
    writeSingle(okHashes.toDF(), s"$out/image_phash.parquet")

    val nOk = okHashes.count()
    val nBad = hashes.filter(!_.ok).count()
    println(s"wrote ${media.count()} media rows, $nOk hashes, $nBad decode failures")
    spark.stop()
  }
}
