package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for a training-data pipeline: media
  * payloads travel as opaque `binary` columns with typed metadata, and
  * decode / resize / signature passes run as partition-local batch
  * operators.
  *
  * Spark-side design (the part that must be right at 100 TB):
  *  - media bytes NEVER pass through a shuffle: every media operator
  *    is a narrow `mapPartitions` over the scan, and anything that
  *    aggregates does so on extracted features (small), not payloads;
  *  - rows are processed in bounded batches (`DecodeBatchSize`) so
  *    peak memory = batch x frame-size regardless of partition size;
  *  - operators carry explicit output schemas (no inference) so the
  *    plan is stable for Catalyst;
  *  - oversized payloads are routed to an error column, not thrown,
  *    so one corrupt blob can't kill a 1000-executor stage.
  *
  * Codec status: IMAGE decode is REAL for PNG/JPEG/GIF/BMP via the
  * JDK's own `javax.imageio`, and AUDIO decode is REAL for PCM
  * WAV/AIFF via `javax.sound.sampled.AudioSystem` (no external libs
  * for either); [[MediaCodec.decodeImage]]/[[MediaCodec.decodeAudio]]
  * fall back to a deterministic payload-seeded fake for synthetic
  * payloads. VIDEO (and compressed audio: mp3/mp4) stays faked —
  * ffmpeg-class bindings are genuinely absent from this container —
  * with the plug-in seams marked.
  */
object MultimodalOps {

  /** Typed metadata accompanying every media payload. */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** A media table: metadata + opaque payload. */
  val MediaSchema: StructType =
    StructType(MediaMetaSchema.fields :+
      StructField("payload", BinaryType))

  /** Rows per decode batch — bounds peak decoder memory per task. */
  val DecodeBatchSize = 32

  /** Container-format sniffing from magic bytes — the intake triage
    * every media crawl runs BEFORE any decode, and the one media
    * operator that needs no codec at all: a 12-byte prefix compare,
    * spelled entirely in built-ins (substring + hex + when), so it
    * runs inside whole-stage codegen on the scan with payloads never
    * leaving their partition. Truncated/empty payloads classify as
    * "unknown", never throw — intake data is exactly where garbage
    * lives. MP4 is recognized by `ftyp` at byte offset 5 (the
    * preceding 4 bytes are the box length, which varies). */
  def sniffFormat(payload: Column): Column = {
    val hex8 = upper(hex(substring(payload, 1, 8)))
    // bytes 9-12 disambiguate the two 4CC container families: RIFF
    // carries WAVE/AVI /WEBP there, FORM carries AIFF/AIFC
    val hex4at9 = upper(hex(substring(payload, 9, 4)))
    when(hex8.startsWith("FFD8FF"), "jpeg")
      .when(hex8.startsWith("89504E47"), "png")
      .when(hex8.startsWith("47494638"), "gif")
      .when(hex8.startsWith("52494646") && hex4at9 === "57415645", "wav")
      .when(hex8.startsWith("52494646"), "riff") // avi/webp container
      .when(hex8.startsWith("464F524D") &&
        (hex4at9 === "41494646" || hex4at9 === "41494643"), "aiff")
      .when(substring(hex8, 9, 8) === "66747970", "mp4")
      .when(hex8.startsWith("1A45DFA3"), "mkv") // EBML: Matroska/WebM
      .when(hex8.startsWith("494433"), "mp3")
      .when(hex8.startsWith("25504446"), "pdf")
      .when(hex8.startsWith("504B"), "zip")
      .otherwise("unknown")
  }

  final case class MediaRow(
      media_id: Long, kind: String, mime: String,
      width: Option[Int], height: Option[Int], duration_ms: Option[Long],
      payload: Array[Byte])

  final case class ImageHash(
      media_id: Long, ok: Boolean, error: String, phash: Long)

  /** Per-image 64-bit perceptual hash ([[MediaCodec.pHash64]]) — the
    * image near-dup SIGNATURE pass: decode + resample to dim×dim
    * grayscale, DCT pHash. Narrow (a batched `mapPartitions`, no
    * shuffle), errors captured per row; payload bytes never shuffle. */
  def imagePHash(media: Dataset[MediaRow], dim: Int = 32): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.grouped(DecodeBatchSize).flatMap { batch =>
        batch.map { r =>
          MediaCodec.decodeImage(r.payload, dim, dim) match {
            case Right(px) =>
              ImageHash(r.media_id, ok = true, error = null,
                MediaCodec.pHash64(px, dim))
            case Left(err) =>
              ImageHash(r.media_id, ok = false, error = err, 0L)
          }
        }
      }
    }
  }

  final case class AudioHash(
      media_id: Long, ok: Boolean, error: String, afp: Long)

  /** Per-clip 64-bit spectral fingerprint
    * ([[MediaCodec.audioFingerprint64]]) — the audio near-dup
    * SIGNATURE pass and the [[imagePHash]] twin: decode to mono PCM,
    * 9×8 time-band energy grid, sign-of-delta bits. Same
    * narrow/batched/error-routed shape; payload bytes never
    * shuffle. */
  def audioFingerprint(media: Dataset[MediaRow]): Dataset[AudioHash] = {
    implicit val enc = Encoders.product[AudioHash]
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.grouped(DecodeBatchSize).flatMap { batch =>
        batch.map { r =>
          MediaCodec.decodeAudio(r.payload) match {
            case Right(clip) =>
              AudioHash(r.media_id, ok = true, error = null,
                MediaCodec.audioFingerprint64(clip))
            case Left(err) =>
              AudioHash(r.media_id, ok = false, error = err, 0L)
          }
        }
      }
    }
  }

  /** NEAR-DUP candidate pairs within hamming distance `maxDist` over
    * any 64-bit signature table (image pHash, audio fingerprint,
    * SimHash) — the d3b banding generalized twice over: pigeonhole-
    * split the 64 bits into `blocks` disjoint blocks and key each row
    * by EVERY (blocks − maxDist)-subset of blocks (two hashes within
    * distance d dirty at most d blocks, so they agree EXACTLY on at
    * least one such subset — the block-combination table scheme of
    * Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07 §3). Band-keyed self-join on the concatenated subset
    * bits, exact `bit_count(xor)` verify.
    *
    * `blocks = maxDist + 1` degenerates to the classic d+1-band
    * split: C(d+1, 1) = d+1 keys of 64/(d+1) bits each.
    * That is the right shape for bounded tables, but its candidate
    * volume on n uniform signatures is ≈ (d+1)·n²/2^(64/(d+1)) —
    * for d = 6 that is n²/81, a quadratic term with a small constant
    * that dominates once n reaches the tens of millions. Raising
    * `blocks` trades key fan-out for collision bits: each row emits
    * C(blocks, d) keys, but every key carries 64·(blocks−d)/blocks
    * bits, so e.g. d = 6, blocks = 8 emits 28 keys/row (4× the
    * d+1 split's 7) while cutting uniform collision mass by
    * 2^16/(28/7·2^9.14) ≈ 29× — the knob a 10⁸⁺-signature corpus
    * turns. Completeness is invariant in `blocks` (HammingBlocksSpec
    * pins pair-set equality across settings); only the candidate
    * volume moves. Output: (id_a, id_b, dist) with id_a < id_b, one
    * row per pair.
    *
    * With no `blocks` the operator picks B ([[autoHammingBlocks]])
    * from one count of the narrow (id, hash) projection, which it
    * persists first (MEMORY_AND_DISK) so a decode-derived caller pays
    * the decode once; the choice goes to [[graft.PhaseLog]]
    * (`hamming auto-blocks`); the returned hook releases it — call it
    * after the downstream action. An explicit `blocks` pins the
    * geometry: no persist, no count, and the hook is a no-op. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String,
                          hashCol: String, maxDist: Int,
                          blocks: Int = -1)
      : (DataFrame, () => Unit) = {
    val (sig, b, release) =
      signatureGeometry(hashes, idCol, hashCol, maxDist, blocks)
    (bandedHammingJoin(sig, idCol, None, hashCol, maxDist, b)
      .select(col("id_a"), col("id_b"), col("dist")), release)
  }

  /** The ok-filtered signature table, its block count, and the hook
    * releasing what choosing that count persisted. */
  private def signatureGeometry(hashes: DataFrame, idCol: String,
                                hashCol: String, maxDist: Int, blocks: Int)
      : (DataFrame, Int, () => Unit) = {
    // failed decodes carry the sentinel hash 0L ([[imagePHash]]) — an
    // unfiltered hash table would report every failed image as an
    // exact dup of every other failure, so drop non-ok rows when the
    // marker column is present (r11 advice)
    val ok =
      if (hashes.columns.contains("ok")) hashes.filter(col("ok")) else hashes
    if (blocks != -1) (ok, blocks, () => ())
    else {
      val sig = ok.select(col(idCol), col(hashCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val b = autoHammingBlocks(sig.count(), maxDist)
      graft.PhaseLog.add("hamming auto-blocks", b.toDouble)
      (sig, b, () => { sig.unpersist(blocking = true); () })
    }
  }

  /** The banding engine behind [[hammingNearDupPairs]] and its
    * frame-ALIGNED variant: when `alignCol` is set, rows join only
    * within equal alignment values (the band key carries the slot, so
    * e.g. video frame 3 meets only other frame 3s) and the output
    * keeps the slot column. Same pigeonhole completeness either
    * way. */
  private def bandedHammingJoin(hashes: DataFrame, idCol: String,
                                alignCol: Option[String], hashCol: String,
                                maxDist: Int, nBlocks: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist in [0, 63]")
    require(nBlocks > maxDist && nBlocks <= 64,
      s"blocks must be in (maxDist, 64], got $nBlocks")
    require(nBlocks <= maxDist + 4,
      s"blocks = $nBlocks emits C($nBlocks,$maxDist) keys/row — cap " +
        "fan-out at C(d+4, d) until a corpus actually needs more")
    // one key per (nBlocks - maxDist)-subset of bit blocks, emitted by
    // the custom Generator: the declarative explode(array(struct…))
    // spelling materializes C(blocks,d) struct columns and its
    // generated doConsume blows the JVM 64 KB method limit at B ≥ 9
    // (measured Janino fallback, r13 hm probe) — the Generator loops
    // the subsets per row with zero array allocation instead
    val alignSel = alignCol.map(a => col(a).cast("long").as("al")).toSeq
    val keyed = hashes.select(
      Seq(col(idCol).as("id"), col(hashCol).as("h")) ++ alignSel ++
        Seq(graft.plans.HammingBandKeys
          .of(col(hashCol), maxDist, nBlocks)): _*)
    val alignEq = alignCol
      .map(_ => col("x.al") === col("y.al")).getOrElse(lit(true))
    val dedupKeys =
      Seq("id_a", "id_b") ++ alignCol.map(_ => "al").toSeq
    val alignOut = alignCol.map(_ => col("x.al").as("al")).toSeq
    keyed.as("x").join(keyed.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          alignEq && col("x.id") < col("y.id"))
      .select(Seq(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.h").as("ha"), col("y.h").as("hb")) ++ alignOut: _*)
      .dropDuplicates(dedupKeys) // a close pair collides in many bands
      .withColumn("dist",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("dist") <= maxDist)
      .drop("ha", "hb")
  }

  final case class VideoFrameHash(
      media_id: Long, ok: Boolean, error: String, frame_idx: Int, phash: Long)

  /** Sampled-frame pHash table for MJPEG-in-AVI videos — REAL pixel
    * decode with zero non-JDK dependencies (r12 verdict #2, closing
    * part of the video fake-decode seam): [[MjpegAvi.mjpegFrames]]
    * walks the RIFF `movi` list, each `NNdc` chunk is a complete
    * baseline JPEG decoded through the same ImageIO path still images
    * use ([[MediaCodec.decodeImage]]), DCT-pHashed
    * ([[MediaCodec.pHash64]]). Up to `maxFrames` frames sampled
    * evenly ([[MjpegAvi.sampleIndices]] — deterministic, slot j ↦
    * ⌊j·n/k⌋); `frame_idx` is the SAMPLE SLOT, not the raw frame
    * number, so equal-length near-dup videos align slot-by-slot.
    * Same narrow/error-routed shape as [[imagePHash]]: payload bytes
    * die in this projection, only (id, slot, hash64) ever shuffles;
    * non-AVI / frameless payloads emit one ok=false row. */
  def videoFramePHash(media: Dataset[MediaRow], maxFrames: Int = 8,
                      dim: Int = 32): Dataset[VideoFrameHash] = {
    implicit val enc = Encoders.product[VideoFrameHash]
    media.filter(_.kind == "video").mapPartitions { rows =>
      rows.grouped(DecodeBatchSize).flatMap { batch =>
        batch.flatMap { r =>
          MjpegAvi.mjpegFrames(r.payload) match {
            case Left(err) =>
              Seq(VideoFrameHash(r.media_id, ok = false, err, -1, 0L))
            case Right(frames) =>
              MjpegAvi.sampleIndices(frames.length, maxFrames).zipWithIndex
                .map { case (fi, slot) =>
                  MediaCodec.decodeImage(frames(fi), dim, dim) match {
                    case Right(px) =>
                      VideoFrameHash(r.media_id, ok = true, error = null,
                        slot, MediaCodec.pHash64(px, dim))
                    case Left(err) =>
                      VideoFrameHash(r.media_id, ok = false, err, slot, 0L)
                  }
                }
          }
        }
      }
    }
  }

  /** VIDEO near-dup pairs from a sampled-frame hash table
    * (media_id, frame_idx, phash [, ok]) — near-dup iff at least
    * `minMatchNum/minMatchDen` of the aligned frame slots (of the
    * SHORTER video) are within hamming `maxDist`. Engine shape: the
    * banded self-join keyed additionally by the frame slot
    * ([[bandedHammingJoin]] `alignCol` — frame 3 meets only frame
    * 3s, so candidate volume is per-slot, never cross-slot), then
    * one keyed count per video pair and an integer cross-multiplied
    * threshold (exact — no float ratio in the gate). Output:
    * (id_a, id_b, matched, n_a, n_b), id_a < id_b.
    * 100 TB shape: frame table is |videos|·k rows of 20 bytes; all
    * joins keyed equi-joins; nothing all-pairs, nothing driver-side. */
  def videoFrameNearDupPairs(frameHashes: DataFrame, maxDist: Int,
                             minMatchNum: Int = 3,
                             minMatchDen: Int = 4): DataFrame = {
    require(minMatchNum > 0 && minMatchDen >= minMatchNum,
      "match fraction must be in (0, 1]")
    val ok = (if (frameHashes.columns.contains("ok"))
        frameHashes.filter(col("ok")) else frameHashes)
      .select(col("media_id"), col("frame_idx"), col("phash"))
    val nFrames = ok.groupBy(col("media_id"))
      .agg(count(lit(1)).as("nf"))
    val slotPairs = bandedHammingJoin(ok, "media_id", Some("frame_idx"),
      "phash", maxDist, maxDist + 1)
    slotPairs.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("matched"))
      .join(nFrames.select(col("media_id").as("id_a"), col("nf").as("n_a")),
        Seq("id_a"))
      .join(nFrames.select(col("media_id").as("id_b"), col("nf").as("n_b")),
        Seq("id_b"))
      .filter(col("matched") * minMatchDen >=
        least(col("n_a"), col("n_b")) * minMatchNum)
      .select(col("id_a"), col("id_b"), col("matched"),
        col("n_a"), col("n_b"))
  }

  /** Pick the block-combination geometry `B` for
    * [[hammingNearDupPairs]] from the signature cardinality `n` —
    * the round-12 scale finding made self-tuning, re-calibrated
    * against head-to-head measurement in round 14; the operators'
    * default geometry. The classic `B = d+1` split dies at ~10⁶
    * uniform 64-bit signatures (its
    * uniform collision mass is C(d+1,d)·n²/2^(64/(d+1)) ≈ n²/161 for
    * d = 6 — measured ENOSPC at 1M in ScaleProbe hm mode), while
    * wider blocks carry 3M+ cheaply.
    *
    * Selection rule: the `B ∈ (d, d+4]` minimizing expected TOTAL
    * ROW VOLUME — the exploded band table plus the uniform candidate
    * verify rows,
    *   C(B,d)·n  +  C(B,d) · n² / 2 / 2^(64·(B−d)/B)
    * — a unit-cost row model: a band row (~20 B, one shuffle+sort)
    * and a verify row (~24 B, one shuffle+bit_count) cost about the
    * same, so minimizing their sum tracks wall time. The earlier
    * fixed candidate BUDGET (10⁸) kept B=7 to ~1.3·10⁵ signatures,
    * where its ~6·10⁷ candidates were measured 8–27× SLOWER than
    * B=8's 4× key fan-out (50.3 s vs 6.3 s at 10⁵, 413 s vs 15 s at
    * 3·10⁵ — ScaleProbe hm, r14): near the boundary the quadratic
    * term dominates long before it exhausts a byte budget. The
    * min-volume ladder for d = 6 — B=7 to ~3.5·10³, B=8 to
    * ~2.8·10⁵, B=9 to ~9.1·10⁶, B=10 beyond — matches every
    * head-to-head probe point (B=8 wins at 10⁵/3·10⁵; B=9 vs B=10
    * at 3·10⁶ measured in r14; the cap C(d+4,d) is
    * [[hammingNearDupPairs]]'s fan-out guard).
    *
    * Honest scale shape (r17 ×10 probe): unlike the sign-LSH auto
    * rule — whose band COUNT is constant and only bits-per-band
    * grow — this ladder's key fan-out itself grows along B
    * (C(8,2)=28 → C(9,3)=84 → C(10,4)=210 per decade for d=6), so
    * the banded row mass is n·C(B,d): wall grows ≈ (data ×) · (key
    * fan-out ×) ≈ 27× per 10× at the 10⁵→10⁶ step even though the
    * CANDIDATE mass stays controlled. That is the min-volume trade:
    * the alternative (holding B) is the measured n²-candidate
    * ENOSPC cliff. Past the C(d+4,d) cap the right move is a wider
    * signature (128-bit pHash) or multi-probe, not more blocks. */
  def autoHammingBlocks(n: Long, maxDist: Int): Int = {
    require(maxDist >= 0 && maxDist < 64, "maxDist in [0, 63]")
    def chooseK(b: Int, k: Int): Double = // C(b, k) for tiny k (≤ 4)
      (1 to k).foldLeft(1.0)((acc, i) => acc * (b - k + i) / i)
    def totalRows(b: Int): Double = {
      val keys = chooseK(b, b - maxDist) // C(B, B−d) = C(B, d)
      keys * n.toDouble +
        keys * n.toDouble * n.toDouble / 2.0 /
          math.pow(2.0, 64.0 * (b - maxDist) / b)
    }
    val cap = math.min(maxDist + 4, 64)
    (maxDist + 1 to cap).minBy(totalRows)
  }

  /** Signature-dedup END-TO-END — the d10 keeper-policy shape on the
    * media side, composed from the library pieces: 64-bit signature
    * table (image pHash / audio fingerprint) →
    * [[hammingNearDupPairs]] (banded, ok=false dropped, geometry
    * operator-chosen unless `blocks` pins it) →
    * [[graft.operators.GraphOps.connectedComponents]] closure
    * (near-duplication is transitive in practice) → keep the min-id
    * representative per cluster, singletons self-kept.
    *
    * Returns (media_id, cluster, csize, keep). 100 TB shape: the
    * banded pair join never goes all-pairs, the closure is the
    * large-star/small-star fixpoint (lineage-truncated per round),
    * and the label/keeper readout is one keyed agg + one join —
    * identical scaling to the text-side d7/d10 family. One signature
    * table feeds both the pairs and the id universe; the returned hook
    * releases its persisted projection and the closure's fixpoint
    * leaf. */
  def hammingDedupLabels(hashes: DataFrame, idCol: String,
                         hashCol: String, maxDist: Int,
                         blocks: Int = -1)
      : (DataFrame, () => Unit) = {
    val (sig, b, sigRelease) =
      signatureGeometry(hashes, idCol, hashCol, maxDist, blocks)
    val pairs = bandedHammingJoin(sig, idCol, None, hashCol, maxDist, b)
    val (lab, ccRelease) = graft.operators.GraphOps
      .connectedComponents(pairs, "id_a", "id_b",
        // banded pairs are distinct with id_a < id_b — skip the
        // closure's canonicalizing exchange (r18)
        assumeCanonical = true)
    val out = graft.operators.DedupOps
      .fullClusterLabels(sig.select(col(idCol)), idCol, lab)
      .select(col(idCol), col("cluster"), col("csize"),
        (col("cluster") === col(idCol)).as("keep"))
    (out, () => {
      ccRelease()
      sigRelease()
    })
  }
}

/** The codec seam. IMAGE decode is REAL (PNG/JPEG/GIF/BMP via
  * `javax.imageio.ImageIO`) and AUDIO decode is REAL (PCM WAV/AIFF
  * via `javax.sound.sampled.AudioSystem`) — both ship with the JDK,
  * zero external deps. VIDEO and compressed audio (mp3/mp4) remain
  * the clearly-marked deterministic FAKE (ffmpeg-class bindings are
  * genuinely absent from this container); the signatures and batch
  * shapes are the real contract, and synthetic non-container payloads
  * take the same fake path so the pipeline stays testable end-to-end
  * without media files. */
object MediaCodec {

  /** Decoded audio clip: mono-mixed samples normalized to [-1, 1]
    * plus the stream parameters the features derive from. */
  final case class AudioClip(
      sampleRate: Int, channels: Int, frames: Long, samples: Array[Float])

  /** Magic-byte check for the audio containers the JDK decodes
    * natively (`javax.sound.sampled.AudioSystem`): RIFF/WAVE and
    * FORM/AIFF-or-AIFC. */
  private def isJdkAudio(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 && {
      (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') ||
      (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M' &&
        p(8) == 'A' && p(9) == 'I' && p(10) == 'F' &&
        (p(11) == 'F' || p(11) == 'C'))
    }

  /** Magic-byte check for RECOGNIZED compressed-audio containers the
    * JDK cannot decode (ID3-tagged / bare-frame MP3, Ogg, FLAC): these
    * must route to the `unsupported:` error column, NOT the synthetic
    * fake — a real MP3 masquerading as a decoded clip would poison any
    * downstream audio-quality gate (r7 advice / verdict item 8).
    *
    * The bare MPEG check validates the FULL 4-byte frame header
    * (sync + non-reserved version/layer + legal bitrate and
    * sample-rate indices), not just the 11 sync bits: a 2-byte sync
    * heuristic matches ~1/2048 of random payloads, which would
    * silently reroute synthetic fixture rows from the documented
    * fake-decode path at corpus scale. The residual false-positive
    * rate of the full header is ~1/20k — and a random payload that
    * IS a bit-valid MPEG frame header is exactly what a sniffing
    * intake should refuse to fake-decode anyway. */
  private def isKnownCompressedAudio(p: Array[Byte]): Boolean =
    p != null && p.length >= 4 && {
      (p(0) == 'I' && p(1) == 'D' && p(2) == '3') || // ID3v2-tagged MP3
      isMpegFrameHeader(p) ||
      (p(0) == 'O' && p(1) == 'g' && p(2) == 'g' && p(3) == 'S') || // Ogg
      (p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C') // FLAC
    }

  private def isMpegFrameHeader(p: Array[Byte]): Boolean = {
    if (p(0) != 0xFF.toByte || (p(1) & 0xE0) != 0xE0) return false // 11 sync bits
    val version = (p(1) >> 3) & 0x3 // 01 reserved
    val layer = (p(1) >> 1) & 0x3 // 00 reserved
    val bitrateIdx = (p(2) >> 4) & 0xF // 1111 invalid
    val sampleIdx = (p(2) >> 2) & 0x3 // 11 reserved
    version != 1 && layer != 0 && bitrateIdx != 0xF && sampleIdx != 3
  }

  /** Real video containers the environment cannot decode (same
    * honesty rule as [[isKnownCompressedAudio]]): MP4-family `ftyp`
    * at byte offset 4 (sniffFormat's rule) and Matroska/WebM's EBML
    * magic. A recognized container must land in `unsupported:`, never
    * the synthetic fake — from EITHER decode path (a crawl row
    * mislabeled image/audio still carries the video bytes). */
  private def isKnownVideoContainer(p: Array[Byte]): Boolean =
    p != null && p.length >= 8 && {
      (p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p') || // MP4
      (p(0) == 0x1A.toByte && p(1) == 0x45.toByte &&
        p(2) == 0xDF.toByte && p(3) == 0xA3.toByte) // EBML (MKV/WebM)
    }

  /** Decode a PCM WAV/AIFF payload to mono [-1, 1] floats — REAL via
    * the JDK's own `AudioSystem` (the ImageIO playbook: no external
    * libs). The stream is re-coded to 16-bit signed PCM at the source
    * rate/channel-count first (covers 8-bit and unsigned variants),
    * then channel-averaged. Recognized compressed containers
    * (mp3/ogg/flac) are NOT decodable by the JDK and land in the
    * error column as `unsupported:` — the documented env-blocked
    * residue, like video. Synthetic non-container payloads >= 64
    * bytes fall back to the deterministic payload-seeded fake (the
    * synthetic-pipeline stand-in); shorter ones are "corrupt",
    * mimicking truncation handling. */
  def decodeAudio(payload: Array[Byte]): Either[String, AudioClip] = {
    if (payload != null && isJdkAudio(payload)) {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val src = in.getFormat
          // NOT_SPECIFIED (-1) / zero rates or channels would divide-
          // by-zero (duration math) or underflow downstream — route to
          // the error column like every other malformed payload
          if (src.getSampleRate <= 0 || src.getChannels <= 0)
            return Left("corrupt: bad sample rate or channel count")
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            2 * src.getChannels, src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem
            .getAudioInputStream(target, in)
          val bytes = pcm.readAllBytes()
          val ch = target.getChannels
          val nFrames = bytes.length / (2 * ch)
          val mono = new Array[Float](nFrames)
          var f = 0
          while (f < nFrames) {
            var s = 0.0f
            var c = 0
            while (c < ch) {
              val off = (f * ch + c) * 2
              val v = ((bytes(off) & 0xFF) | (bytes(off + 1) << 8)).toShort
              s += v / 32768.0f
              c += 1
            }
            mono(f) = s / ch
            f += 1
          }
          Right(AudioClip(src.getSampleRate.toInt, src.getChannels,
            nFrames.toLong, mono))
        } finally in.close()
      } catch {
        case e: Exception => Left(s"corrupt: ${e.getMessage}")
      }
    } else if (payload != null && isKnownCompressedAudio(payload)) {
      Left("unsupported: compressed audio container (no JDK codec)")
    } else if (payload != null && isKnownVideoContainer(payload)) {
      Left("unsupported: video container (no JDK codec)")
    } else if (payload == null || payload.length < 64) {
      Left("corrupt: payload too short")
    } else {
      // deterministic fake: seeded 1000-sample clip at 8 kHz
      val seed = java.util.Arrays.hashCode(payload).toLong
      val rnd = new scala.util.Random(seed)
      Right(AudioClip(8000, 1, 1000L,
        Array.fill(1000)(rnd.nextFloat() * 2f - 1f)))
    }
  }

  /** Magic-byte check for the containers the JDK decodes natively —
    * the JVM-side twin of [[MultimodalOps.sniffFormat]]'s image rows. */
  private def isJdkImage(p: Array[Byte]): Boolean =
    p != null && p.length >= 8 && {
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte) || // jpeg
      (p(0) == 0x89.toByte && p(1) == 0x50.toByte && p(2) == 0x4E.toByte &&
        p(3) == 0x47.toByte) || // png
      (p(0) == 0x47.toByte && p(1) == 0x49.toByte && p(2) == 0x46.toByte &&
        p(3) == 0x38.toByte) || // gif
      (p(0) == 0x42.toByte && p(1) == 0x4D.toByte) // bmp
    }

  /** Decode + resize an image payload to outW x outH grayscale pixels
    * in [0, 1]. PNG/JPEG/GIF/BMP payloads take the REAL path
    * (ImageIO decode, grayscale raster resample — headless-safe, no
    * external libs); anything else falls back to the deterministic
    * payload-seeded fake (the synthetic-pipeline stand-in; payloads
    * shorter than 64 bytes are "corrupt" there, mimicking truncation
    * handling). */
  def decodeImage(payload: Array[Byte], outW: Int, outH: Int): Either[String, Array[Float]] = {
    if (payload != null && isJdkImage(payload)) {
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) Left("corrupt: ImageIO could not parse container")
        else {
          val gray = new java.awt.image.BufferedImage(
            outW, outH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = gray.createGraphics()
          try g.drawImage(img, 0, 0, outW, outH, null)
          finally g.dispose()
          val raster = gray.getRaster
          Right(Array.tabulate(outW * outH)(i =>
            raster.getSample(i % outW, i / outW, 0) / 255.0f))
        }
      } catch {
        case e: Exception => Left(s"corrupt: ${e.getMessage}")
      }
    } else if (payload != null && isKnownVideoContainer(payload)) {
      Left("unsupported: video container (no JDK codec)")
    } else if (payload == null || payload.length < 64) {
      Left("corrupt: payload too short")
    } else {
      val seed = java.util.Arrays.hashCode(payload).toLong
      val rnd = new scala.util.Random(seed)
      Right(Array.fill(outW * outH)(rnd.nextFloat()))
    }
  }

  /** 64-bit PERCEPTUAL hash (classic DCT pHash) of a dim×dim
    * grayscale grid in [0,1]: separable 2-D DCT-II (naive O(dim³) —
    * dim is 32, trivial), keep the top-left 8×8 low-frequency
    * coefficients, bit b = coeff(b) > median of the 63 NON-DC
    * coefficients. Properties the spec pins: re-encoding the same
    * pixels (PNG vs BMP) hashes identically; a uniform brightness
    * shift moves ONLY the DC coefficient (DCT linearity), so hashes
    * differ by ≤ 1 bit; light noise moves few bits; structurally
    * different images are far. This is the image-side near-dup
    * signature — the visual twin of the text SimHash. */
  def pHash64(px: Array[Float], dim: Int): Long = {
    require(px.length == dim * dim, s"expected $dim x $dim grid")
    val cosT = Array.tabulate(8, dim)((k, n) =>
      math.cos(math.Pi / dim * (n + 0.5) * k))
    // rows DCT (only the 8 output frequencies we keep need computing
    // on the second pass, but the first pass needs all dim rows)
    val rowsDct = Array.ofDim[Double](dim, 8)
    var r = 0
    while (r < dim) {
      var k = 0
      while (k < 8) {
        var s = 0.0
        var n = 0
        while (n < dim) { s += px(r * dim + n) * cosT(k)(n); n += 1 }
        rowsDct(r)(k) = s
        k += 1
      }
      r += 1
    }
    val flat = new Array[Double](64)
    var k2 = 0
    while (k2 < 8) {
      var k = 0
      while (k < 8) {
        var s = 0.0
        var n = 0
        while (n < dim) { s += rowsDct(n)(k) * cosT(k2)(n); n += 1 }
        flat(k2 * 8 + k) = s
        k += 1
      }
      k2 += 1
    }
    val nonDc = flat.drop(1).sorted
    val med = nonDc(31) // 63 values, middle element
    var h = 0L
    var b = 0
    while (b < 64) {
      if (flat(b) > med) h |= (1L << b)
      b += 1
    }
    h
  }

  /** 64-bit spectral audio fingerprint — the audio twin of
    * [[pHash64]], in the Haitsma-Kalker shape (ISMIR 2002, "A highly
    * robust audio fingerprinting system"): the mono clip is split
    * into 9 equal time frames; per frame, single-bin DFT energy at 8
    * FIXED absolute frequencies (354…4000 Hz, a half-octave ladder —
    * absolute, not Nyquist-relative, so a resampled copy lands on the
    * same bands); each of the 64 bits is the sign of the band-energy
    * delta between adjacent frames. Global volume scaling multiplies
    * every energy by c² and preserves every strict delta sign —
    * volume-invariant by construction; light additive noise perturbs
    * few deltas; different content is ~32 bits away. Cost is
    * O(samples × 8) with one sin/cos pair per sample-band — ~250k
    * flops for a 1 s 8 kHz clip. Degenerate clips (< 9 samples)
    * fingerprint to 0L with every delta tied. */
  def audioFingerprint64(clip: AudioClip): Long = {
    val T = 9; val B = 8
    val bands = Array(354.0, 500.0, 707.0, 1000.0, 1414.0, 2000.0, 2828.0, 4000.0)
    val n = clip.samples.length
    val e = Array.ofDim[Double](T, B)
    if (n >= T) {
      var t = 0
      while (t < T) {
        val from = (n.toLong * t / T).toInt
        val until = (n.toLong * (t + 1) / T).toInt
        var b = 0
        while (b < B) {
          val f = math.min(bands(b), clip.sampleRate / 2.0 - 1.0)
          val w = 2.0 * math.Pi * f / clip.sampleRate
          var re = 0.0; var im = 0.0
          var i = from
          while (i < until) {
            val x = clip.samples(i).toDouble
            val ph = w * (i - from)
            re += x * math.cos(ph)
            im -= x * math.sin(ph)
            i += 1
          }
          e(t)(b) = re * re + im * im
          b += 1
        }
        t += 1
      }
    }
    var h = 0L
    var bit = 0
    var t = 0
    while (t < T - 1) {
      var b = 0
      while (b < B) {
        if (e(t + 1)(b) > e(t)(b)) h |= (1L << bit)
        bit += 1
        b += 1
      }
      t += 1
    }
    h
  }
}
