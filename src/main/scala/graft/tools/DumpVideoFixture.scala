package graft.tools

import java.io.ByteArrayOutputStream

import graft.multimodal.MultimodalOps.MediaRow
import graft.multimodal.VideoMeta
import graft.tools.FixtureFiles.writeSingle

/** One-shot fixture dump for the VIDEO metadata oracle (the
  * DumpImageFixture device applied to the container-parse family):
  *
  *   fixtures/media_videos.parquet  (full MediaRow schema — real
  *                                   hand-assembled MP4 / AVI / MKV
  *                                   container bytes, plus planted
  *                                   corrupt/misfiled payloads)
  *   fixtures/video_meta.parquet    (the FULL VideoMeta.videoMeta
  *                                   parse of that table, ok and
  *                                   error rows alike, computed
  *                                   through the engine's own path)
  *
  * so `v1_video_meta` can be verified as parse DETERMINISM against
  * committed values, and `v2_video_census` as an independent SQL
  * re-derivation of the downstream census from the committed parse.
  *
  * The containers are assembled byte-by-byte from the public specs
  * (ISO/IEC 14496-12 box grammar; AVI RIFF per the avih layout;
  * Matroska/WebM per the EBML element IDs) — every size field,
  * fixed-point dimension and EBML varint is written by this tool, so
  * the fixture pins the parser against independently-constructed
  * structures, not its own output. Planted exact-duplicate payload
  * pairs (same bytes, distinct media_id) feed `v3_media_digest_dedup`.
  * Committed to the repo; re-run after any parser change. */
object DumpVideoFixture {

  // ---- byte assembly helpers ---------------------------------------
  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
  private def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
  private def le32(v: Long): Array[Byte] = Array(
    v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def cat(parts: Array[Byte]*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    parts.foreach(bos.write)
    bos.toByteArray
  }

  // ---- ISO-BMFF / MP4 ----------------------------------------------
  private def box(typ: String, body: Array[Byte]*): Array[Byte] = {
    val b = cat(body: _*)
    cat(be32(8L + b.length), ascii(typ), b)
  }
  /** 64-bit `largesize` box (size field == 1). */
  private def boxLarge(typ: String, body: Array[Byte]*): Array[Byte] = {
    val b = cat(body: _*)
    cat(be32(1L), ascii(typ), be64(16L + b.length), b)
  }
  private def ftyp(brand: String): Array[Byte] =
    box("ftyp", ascii(brand), be32(512), ascii("isomiso2mp41"))
  /** Full 100-byte v0 mvhd body (rate/volume/matrix per spec). */
  private def mvhdV0(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", be32(0), be32(1L), be32(2L), be32(timescale), be32(duration),
      be32(0x00010000L), be16(0x0100), Array.fill[Byte](10)(0),
      matrix, Array.fill[Byte](24)(0), be32(3L))
  /** Full 112-byte v1 mvhd body (64-bit times + duration). */
  private def mvhdV1(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", be32(0x01000000L), be64(1L), be64(2L), be32(timescale),
      be64(duration), be32(0x00010000L), be16(0x0100),
      Array.fill[Byte](10)(0), matrix, Array.fill[Byte](24)(0), be32(3L))
  private val matrix: Array[Byte] = cat(
    be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
    be32(0), be32(0), be32(0), be32(0x40000000L))
  private def tkhdV0(trackId: Long, w: Int, h: Int): Array[Byte] =
    box("tkhd", be32(0x00000007L), be32(1L), be32(2L), be32(trackId),
      be32(0), be32(0L), Array.fill[Byte](8)(0), be16(0), be16(0),
      be16(if (w == 0) 0x0100 else 0), be16(0), matrix,
      be32(w.toLong << 16), be32(h.toLong << 16))
  private def tkhdV1(trackId: Long, w: Int, h: Int): Array[Byte] =
    box("tkhd", be32(0x01000007L), be64(1L), be64(2L), be32(trackId),
      be32(0), be64(0L), Array.fill[Byte](8)(0), be16(0), be16(0),
      be16(0), be16(0), matrix, be32(w.toLong << 16), be32(h.toLong << 16))
  private def junk(seed: Long, n: Int): Array[Byte] =
    Array.tabulate[Byte](n) { i =>
      var h = seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
      (h >>> 40).toByte
    }

  private def mp4(brand: String, timescale: Long, duration: Long,
                  tracks: Seq[(Long, Int, Int)], v1: Boolean = false,
                  largeMdat: Boolean = false, seed: Long = 1): Array[Byte] = {
    val mvhd = if (v1) mvhdV1(timescale, duration) else mvhdV0(timescale, duration)
    val traks = tracks.map { case (id, w, h) =>
      box("trak", if (v1) tkhdV1(id, w, h) else tkhdV0(id, w, h))
    }
    val moov = box("moov", (mvhd +: traks): _*)
    val mdat = if (largeMdat) boxLarge("mdat", junk(seed, 256))
      else box("mdat", junk(seed, 128))
    cat(ftyp(brand), box("free", junk(seed + 1, 16)), moov, mdat)
  }

  // ---- AVI / RIFF ---------------------------------------------------
  private def riffChunk(fourcc: String, body: Array[Byte]): Array[Byte] = {
    val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
    cat(ascii(fourcc), le32(body.length.toLong), padded)
  }
  private def riffList(listType: String, body: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", cat((ascii(listType) +: body): _*))
  private def avi(usPerFrame: Long, totalFrames: Long, streams: Int,
                  w: Int, h: Int, seed: Long = 2): Array[Byte] = {
    val avih = riffChunk("avih", cat(
      le32(usPerFrame), le32(4000000L), le32(0), le32(0x10),
      le32(totalFrames), le32(0), le32(streams.toLong), le32(65536L),
      le32(w.toLong), le32(h.toLong), le32(0), le32(0), le32(0), le32(0)))
    val hdrl = riffList("hdrl", avih)
    val movi = riffList("movi", riffChunk("00dc", junk(seed, 64)))
    val inner = cat(ascii("AVI "), hdrl, movi)
    cat(ascii("RIFF"), le32(inner.length.toLong), inner)
  }

  // ---- MJPEG-in-AVI (real decodable frames) -------------------------
  /** The DumpImageFixture textured device: seeded 9×9 splitmix grid
    * upscaled bilinearly — low-frequency structure, so the DCT pHash
    * bits are content, not noise, and a JPEG round-trip (or a mild
    * intensity shift) moves few bits. */
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
  /** Small grayscale baseline JPEG — the frame payload of an MJPEG
    * `00dc` chunk (every frame a complete SOI..EOI image, per the
    * MJPEG convention; decodable by plain ImageIO). Kept small
    * (32×32 ≈ 800 B) so the fuzz battery's O(len²) prefix sweep over
    * these payloads stays cheap. */
  private def jpegFrame(seed: Long, shift: Int = 0, quality: Float = -1f,
                        w: Int = 32, h: Int = 32): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0,
        math.max(0, math.min(255, textured(seed, shift)(x, y))))
    val bos = new ByteArrayOutputStream()
    if (quality < 0f) {
      require(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpg writer")
    } else {
      // explicit low quality: heavier AC quantization noise, so the
      // re-encoded twin lands at small NONZERO pHash distance (a
      // uniform intensity shift only moves the DC coefficient, which
      // the pHash is invariant to by design)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(
        javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close(); writer.dispose()
    }
    bos.toByteArray
  }
  /** AVI whose `movi` list carries one `00dc` JPEG chunk per frame —
    * the real-decode video fixture. `recWrap` nests frames inside a
    * `rec ` LIST (interleaved-AVI grammar) to pin the walker's
    * recursion; `junkFrames` prepends non-JPEG video chunks (must be
    * skipped, not errored). */
  private def aviMjpeg(frames: Seq[Array[Byte]], w: Int, h: Int,
                       recWrap: Boolean = false, junkFrames: Int = 0,
                       seed: Long = 5): Array[Byte] = {
    val avih = riffChunk("avih", cat(
      le32(33333L), le32(4000000L), le32(0), le32(0x10),
      le32(frames.size.toLong), le32(0), le32(1L), le32(65536L),
      le32(w.toLong), le32(h.toLong), le32(0), le32(0), le32(0), le32(0)))
    val hdrl = riffList("hdrl", avih)
    val junkChunks = (0 until junkFrames)
      .map(i => riffChunk("00dc", junk(seed + i, 63))) // odd: exercises pad
    val frameChunks = frames.map(f => riffChunk("00dc", f))
    val body: Seq[Array[Byte]] =
      if (recWrap) junkChunks ++ frameChunks.map(c => riffList("rec ", c))
      else junkChunks ++ frameChunks
    val movi = riffList("movi", body: _*)
    val inner = cat(ascii("AVI "), hdrl, movi)
    cat(ascii("RIFF"), le32(inner.length.toLong), inner)
  }

  /** The MJPEG fixture's (media_id, container bytes) rows — separate
    * from [[payloads]] so the v1–v4 oracles over media_videos.parquet
    * are untouched. Planted structure for v5_video_framedup
    * (maxDist 6, match fraction 3/4 of the shorter side's slots):
    *  - 200/201: 8-frame twins (201 re-encoded at JPEG quality 0.5 —
    *    AC quantization noise lands slots at small NONZERO pHash
    *    distance, so the verify band is exercised, not just exact
    *    equality; a uniform intensity shift would be pHash-invariant);
    *  - 202: first 4 of 8 frames shared with 200 — a candidate the
    *    fraction gate must REJECT (4/8 < 3/4);
    *  - 230/231: sampling invariance — 230 has 24 frames, 231 the
    *    exact 8 frames slot-sampling picks from 230 (⌊j·24/8⌋ =
    *    frames 0,3,…,21), so they match slot-for-slot;
    *  - 240: rec-wrapped + junk-chunk layout of 200's frames (same
    *    hashes through the walker's recursion/skip paths);
    *  - 220–223: unrelated singletons;
    *  - 290: AVI whose video chunks are not JPEGs (ok=false row),
    *    291: MP4 (not AVI — error routes). */
  private[graft] def mjpegPayloads: Seq[(Long, Array[Byte])] = {
    def framesOf(seeds: Seq[Long], shift: Int = 0,
                 quality: Float = -1f): Seq[Array[Byte]] =
      seeds.map(s => jpegFrame(s, shift, quality))
    val fam = (0 until 8).map(i => 2000L + i)
    val v200 = aviMjpeg(framesOf(fam), 32, 32)
    val v201 = aviMjpeg(framesOf(fam, quality = 0.5f), 32, 32)
    val v202 = aviMjpeg(framesOf(fam.take(4) ++ (0 until 4).map(i => 2900L + i)), 32, 32)
    val long = (0 until 24).map(i => 2300L + i)
    val v230 = aviMjpeg(framesOf(long), 32, 32)
    val v231 = aviMjpeg(
      framesOf(graft.multimodal.MjpegAvi.sampleIndices(24, 8).map(long)),
      32, 32)
    val v240 = aviMjpeg(framesOf(fam), 32, 32, recWrap = true, junkFrames = 2)
    val singles = (0 until 4).map { i =>
      (220L + i) -> aviMjpeg(framesOf((0 until 8).map(j => 5000L + i * 10 + j)), 32, 32)
    }
    val v290 = avi(33333, 900, 1, 320, 240, seed = 29) // junk 00dc, no JPEG
    val v291 = mp4("isom", 1000, 5000, Seq((1, 160, 120)), seed = 30)
    Seq(200L -> v200, 201L -> v201, 202L -> v202,
      230L -> v230, 231L -> v231, 240L -> v240) ++ singles ++
      Seq(290L -> v290, 291L -> v291)
  }
  // ---- Matroska / WebM (EBML) ---------------------------------------
  /** Element ID bytes are written verbatim (IDs include the marker). */
  private def ebmlIdBytes(id: Long): Array[Byte] = {
    val n = if (id <= 0xFFL) 1 else if (id <= 0xFFFFL) 2
      else if (id <= 0xFFFFFFL) 3 else 4
    (0 until n).map(i => ((id >>> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
  }
  /** Size varint, minimal length, marker bit set. */
  private def ebmlSizeBytes(sz: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && sz >= (1L << (7 * n)) - 1) n += 1
    val out = new Array[Byte](n)
    var v = sz | (1L << (7 * n))
    var i = n - 1
    while (i >= 0) { out(i) = (v & 0xFF).toByte; v >>>= 8; i -= 1 }
    out
  }
  private def el(id: Long, body: Array[Byte]*): Array[Byte] = {
    val b = cat(body: _*)
    cat(ebmlIdBytes(id), ebmlSizeBytes(b.length.toLong), b)
  }
  private def elUint(id: Long, v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    el(id, (0 until n).map(i => ((v >>> (8 * (n - 1 - i))) & 0xFF).toByte).toArray)
  }
  private def elFloat8(id: Long, v: Double): Array[Byte] =
    el(id, be64(java.lang.Double.doubleToLongBits(v)))
  private def elFloat4(id: Long, v: Float): Array[Byte] =
    el(id, be32(java.lang.Float.floatToIntBits(v).toLong & 0xFFFFFFFFL))

  private def mkv(docType: String, tsScaleNs: Long, durationTicks: Double,
                  float4: Boolean, tracks: Seq[(Int, Int)],
                  withDuration: Boolean = true): Array[Byte] = {
    val header = el(0x1A45DFA3L,
      elUint(0x4286L, 1), // EBMLVersion
      el(0x4282L, ascii(docType)), // DocType
      elUint(0x4287L, 2)) // DocTypeVersion
    val infoKids = Seq(elUint(0x2AD7B1L, tsScaleNs)) ++
      (if (withDuration)
        Seq(if (float4) elFloat4(0x4489L, durationTicks.toFloat)
            else elFloat8(0x4489L, durationTicks))
      else Seq.empty)
    val info = el(0x1549A966L, infoKids: _*)
    val trackEls = tracks.zipWithIndex.map { case ((w, h), i) =>
      if (w > 0)
        el(0xAEL, elUint(0xD7L, i + 1L), // TrackNumber
          el(0xE0L, elUint(0xB0L, w.toLong), elUint(0xBAL, h.toLong)))
      else el(0xAEL, elUint(0xD7L, i + 1L)) // audio: no Video element
    }
    val trks = el(0x1654AE6BL, trackEls: _*)
    val cluster = el(0x1F43B675L, elUint(0xE7L, 0L), junk(3, 32))
    cat(header, el(0x18538067L, info, trks, cluster))
  }

  /** The fixture's (media_id, container bytes) rows — one code path
    * for the dump main AND the fuzz seeds (VideoMetaFuzzSpec mutates
    * these, so the fuzz walks the same box/varint layouts the
    * committed parquet carries). Pure and deterministic. */
  private[graft] def payloads: Seq[(Long, Array[Byte])] = {
    val m1 = mp4("isom", 1000, 30000, Seq((1, 640, 360)), seed = 11)
    val m2 = mp4("mp42", 600, 7200, Seq((1, 1920, 1080), (2, 0, 0)), seed = 12)
    val m3 = mp4("avc1", 90000, 123456789L, Seq((1, 1280, 720)),
      v1 = true, seed = 13) // v1: 64-bit duration, tkhd v1
    val m4 = mp4("isom", 25, 250, Seq((1, 320, 240)),
      largeMdat = true, seed = 14)
    val m5 = mp4("mp41", 1000, 90000, Seq((1, 3840, 2160), (2, 0, 0), (3, 0, 0)),
      seed = 15)
    // -- AVIs
    val a1 = avi(33333, 900, 2, 720, 480, seed = 21)
    val a2 = avi(40000, 1500, 1, 1280, 720, seed = 22)
    val a3 = avi(16667, 60000, 3, 1920, 1080, seed = 23)
    // -- MKVs: webm/matroska, float4/float8 duration, custom scale
    val k1 = mkv("webm", 1000000L, 45000.0, float4 = false, Seq((1024, 576), (0, 0)))
    val k2 = mkv("matroska", 1000000L, 4096.0, float4 = true, Seq((854, 480)))
    val k3 = mkv("matroska", 2000000L, 30000.0, float4 = false, Seq((640, 360), (0, 0), (0, 0)))
    // -- error rows: truncated MP4 (cut inside moov), PNG misfiled as
    //    video, MKV with no Duration, garbage, too-short
    val truncated = m1.take(m1.length - box("mdat", junk(11, 128)).length - 40)
    val png = cat(Array(0x89.toByte) ++ ascii("PNG\r\n") ++
      Array(0x1A.toByte, 0x0A.toByte), junk(31, 64))
    val noDur = mkv("webm", 1000000L, 0.0, float4 = false, Seq((100, 100)),
      withDuration = false)
    val garbage = junk(41, 96)
    val short = junk(42, 8)

    val base = Seq(
      10L -> m1, 11L -> m2, 12L -> m3, 13L -> m4, 14L -> m5,
      20L -> a1, 21L -> a2, 22L -> a3,
      30L -> k1, 31L -> k2, 32L -> k3,
      90L -> truncated, 91L -> png, 92L -> noDur, 93L -> garbage, 94L -> short)
    // exact-duplicate payload pairs for v3 (same bytes, new ids)
    val dups = Seq(110L -> m1, 111L -> m1, 120L -> a2, 130L -> k2)
    base ++ dups
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "fixtures"
    val spark = graft.SparkEntry.localSession(4)
    import spark.implicits._

    def row(id: Long, bytes: Array[Byte]): MediaRow =
      MediaRow(id, "video", "video/x-fixture", None, None, None, bytes)

    // -- MP4s: v0/v1 headers, multi-track, largesize mdat, brands
    val media = payloads.map { case (id, b) => row(id, b) }.toDS()
    writeSingle(media.toDF(), s"$out/media_videos.parquet")

    val meta = VideoMeta.videoMeta(media)
    writeSingle(meta.toDF(), s"$out/video_meta.parquet")

    // MJPEG fixture (separate table — v1-v4 oracles stay untouched):
    // payloads + the engine-path frame-hash table for v5's all-pairs
    // oracle (ok rows only, the image_phash.parquet convention)
    val mjpeg = mjpegPayloads.map { case (id, b) => row(id, b) }.toDS()
    writeSingle(mjpeg.toDF(), s"$out/media_mjpeg.parquet")
    val frameHashes = graft.multimodal.MultimodalOps
      .videoFramePHash(mjpeg, maxFrames = 8, dim = 32)
    writeSingle(frameHashes.filter(_.ok)
        .map(f => (f.media_id, f.frame_idx, f.phash))
        .toDF("media_id", "frame_idx", "phash"),
      s"$out/video_frame_phash.parquet")
    val fh = frameHashes.collect().sortBy(f => (f.media_id, f.frame_idx))
    fh.groupBy(_.media_id).toSeq.sortBy(_._1).foreach { case (id, fs) =>
      val oks = fs.filter(_.ok)
      println(f"mjpeg $id%4d frames=${oks.length} " +
        (if (oks.isEmpty) s"err=${fs.head.error}"
         else oks.map(f => f"${f.phash}%016x").mkString(" ")))
    }

    val parsed = meta.collect().sortBy(_.media_id)
    parsed.foreach(r => println(
      f"${r.media_id}%4d ok=${r.ok} ${r.container}%-4s ${r.brand}%-8s " +
        f"${r.duration_ms}%9dms ${r.width}x${r.height} tracks=${r.n_tracks} ${r.err}"))
    println(s"wrote ${media.count()} media rows, ${parsed.count(_.ok)} parsed ok")
    spark.stop()
  }
}
