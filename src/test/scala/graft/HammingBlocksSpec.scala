package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.MultimodalOps

/** [[MultimodalOps.hammingNearDupPairs]]' band geometry — the
  * block-combination table generalization. The pigeonhole guarantee
  * (≤ d dirty bits ⇒ some (blocks−d)-subset of blocks exactly clean)
  * must make the PAIR SET invariant in `blocks`: raising it may only
  * move candidate volume, never recall. Pinned against a locally
  * computed all-pairs ground truth on a corpus built to stress the
  * boundary: planted families at distances 0 / exactly d / d+1
  * (the d+1 members must NOT pair), flips placed both inside one
  * block and straddling block boundaries for every blocks setting
  * under test, plus seeded-random singletons. */
class HammingBlocksSpec extends AnyFunSuite with SparkSessionFixture {

  private def corpus: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(4242)
    val rows = Seq.newBuilder[(Long, Long)]
    var id = 0L
    def add(h: Long): Unit = { rows += ((id, h)); id += 1 }
    (0 until 40).foreach { f =>
      val base = rnd.nextLong()
      add(base)                                   // family anchor
      add(base)                                   // exact twin (dist 0)
      // exactly d = 6 flipped bits, positions chosen to straddle
      // every block geometry under test (64/7≈9, 64/8=8, 64/10≈6):
      // adjacent runs cross boundaries, spread bits land mid-block
      val atD = Seq(0, 1, 7, 8, 31, 63)
        .map(b => (b + f) % 64)
        .foldLeft(base)((h, b) => h ^ (1L << b))
      add(atD)
      // d + 1 flips — must never appear in the pair set
      val beyond = Seq(2, 9, 10, 20, 40, 50, 62)
        .map(b => (b + f) % 64)
        .foldLeft(base)((h, b) => h ^ (1L << b))
      add(beyond)
    }
    (0 until 120).foreach(_ => add(rnd.nextLong()))
    rows.result()
  }

  private def truth(rows: Seq[(Long, Long)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      dist = java.lang.Long.bitCount(ha ^ hb) if dist <= d
    } yield (ia, ib, dist)).toSet

  private def engine(rows: Seq[(Long, Long)], d: Int,
                     blocks: Int): Set[(Long, Long, Int)] = {
    import spark.implicits._
    // an explicit `blocks` persists nothing: the hook is a no-op
    val (pairs, _) = MultimodalOps.hammingNearDupPairs(
      rows.toDF("media_id", "phash"), "media_id", "phash", d, blocks)
    pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("pair set is invariant in blocks (d = 6: default 7, 8, 10)") {
    val rows = corpus
    val want = truth(rows, 6)
    assert(want.nonEmpty)
    assert(want.exists(_._3 == 6), "boundary-distance family missing")
    for (b <- Seq(7, 8, 10))
      assert(engine(rows, 6, b) === want, s"blocks = $b")
  }

  test("pair set is invariant in blocks at other radii (d = 2, d = 0)") {
    val rows = corpus
    for ((d, bs) <- Seq(2 -> Seq(3, 5), 0 -> Seq(1, 4))) {
      val want = truth(rows, d)
      for (b <- bs)
        assert(engine(rows, d, b) === want, s"d = $d blocks = $b")
    }
  }

  test("fan-out guardrails reject degenerate block counts") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("media_id", "phash")
    intercept[IllegalArgumentException] {
      MultimodalOps.hammingNearDupPairs(df, "media_id", "phash", 6, 6)
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.hammingNearDupPairs(df, "media_id", "phash", 6, 11)
    }
  }

  test("autoHammingBlocks reproduces the measured d=6 ladder") {
    // min-total-row-volume rule (r14 re-calibration): band rows
    // C(B,d)·n plus uniform candidate rows C(B,d)·n²/2/2^(64(B−d)/B).
    // Crossovers (d=6): 7→8 at n ≈ 3.5e3, 8→9 at ≈ 2.8e5,
    // 9→10 at ≈ 9.1e6 — matching the head-to-head probe points
    // (B=8 beat B=7 by 8x at 1e5 and 27x at 3e5; the old fixed
    // 1e8-candidate budget kept B=7 to 1.3e5, measured 50.3 s vs
    // 6.3 s there).
    def b(n: Long) = MultimodalOps.autoHammingBlocks(n, 6)
    assert(b(0L) === 7)
    assert(b(201L) === 7)           // the committed fixture's regime
    assert(b(3000L) === 7)          // below the first crossover
    assert(b(5000L) === 8)          // past it
    assert(b(100000L) === 8)        // measured: 6.3 s vs B=7's 50.3 s
    assert(b(200000L) === 8)
    assert(b(1000000L) === 9)       // 1M — where the default ENOSPC'd
    assert(b(3000000L) === 9)       // min-volume holds 9 to ~9.1e6
    assert(b(20000000L) === 10)     // past the 9→10 crossover
    assert(b(100000000L) === 10)    // capped at d+4
    // monotone non-decreasing in n (a bigger corpus never narrows B)
    val ladder = Seq(1L, 1000L, 1e5.toLong, 5e5.toLong, 1e6.toLong,
      1e7.toLong, 1e9.toLong).map(b)
    assert(ladder === ladder.sorted)
    // other radii stay inside the legal (d, d+4] window
    for (d <- Seq(0, 2, 7); n <- Seq(1L, 1e6.toLong, 1e9.toLong)) {
      val got = MultimodalOps.autoHammingBlocks(n, d)
      assert(got > d && got <= d + 4, s"d=$d n=$n got=$got")
    }
  }

  test("auto pairs pay a decode-derived signature exactly once") {
    // the geometry count used to re-pay an upstream decode; the
    // operator now persists the narrow (id, hash) projection itself.
    // A counting UDF stands in for the decode: one call per row at
    // cache fill (the count), zero at pair generation.
    import spark.implicits._
    val calls = spark.sparkContext.longAccumulator("decode-calls")
    val decode = udf { h: Long => calls.add(1L); h }
    val rows = corpus
    val derived = rows.toDF("media_id", "raw")
      .select(col("media_id"), decode(col("raw")).as("phash"))
    val (pairs, release) = MultimodalOps.hammingNearDupPairs(
      derived, "media_id", "phash", 6)
    val got = pairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    release()
    assert(got === truth(rows, 6))
    assert(calls.value === rows.size.toLong,
      s"decode ran ${calls.value} times for ${rows.size} rows")
  }

  test("auto geometry is result-identical to every manual geometry") {
    val rows = corpus
    val want = truth(rows, 6)
    import spark.implicits._
    val (pairs, release) = MultimodalOps.hammingNearDupPairs(
      rows.toDF("media_id", "phash"), "media_id", "phash", 6)
    val got = pairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    release()
    assert(got === want)
  }

  test("Releasable variants release their persisted projections") {
    // the r14-advice seam: repeated auto calls in one long session
    // accumulated cached (id, hash) projections until LRU pressure.
    // The release hook must drop every block this call pinned.
    import spark.implicits._
    val rows = corpus
    def cachedRdds: Int = spark.sparkContext.getPersistentRDDs.size
    val before = cachedRdds
    val (pairs, rel) = MultimodalOps.hammingNearDupPairs(
      rows.toDF("media_id", "phash"), "media_id", "phash", 6)
    assert(pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === truth(rows, 6))
    rel()
    assert(cachedRdds === before,
      s"pairs release leaked ${cachedRdds - before} cached RDDs")
    val (lab, rel2) = MultimodalOps.hammingDedupLabels(
      rows.toDF("media_id", "phash"), "media_id", "phash", 6)
    assert(lab.count() === rows.size.toLong)
    rel2()
    assert(cachedRdds === before,
      s"labels release leaked ${cachedRdds - before} cached RDDs")
  }
}
