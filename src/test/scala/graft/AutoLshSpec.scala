package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DetParams, SimilarityOps}
import graft.plans.SketchBandsAuto

/** Data-adaptive sign-LSH geometry (round 15 — d35/s19, the 100 TB
  * path for the banded embedding joins). Pins the three contracts the
  * DuckDB oracle's truncation spelling relies on:
  *  1. the integer bits rule (shared Spark/SQL, no float log2);
  *  2. the PREFIX property — a narrower band key is a string prefix
  *     of the wider one (oracle computes max width and substr-trims);
  *  3. recall floor — EXACT duplicates collide at every width (equal
  *     vectors share all plane signs), so the operator's near-dup
  *     target survives any data-driven width. */
class AutoLshSpec extends AnyFunSuite with SparkSessionFixture {

  test("autoBitsPerBand: smallest width with 2^b * occ >= n, clamped") {
    import DetParams._
    assert(autoBitsPerBand(1L) === PlaneBitsPerBand)
    assert(autoBitsPerBand((1L << PlaneBitsPerBand) * AutoBandOcc)
      === PlaneBitsPerBand)
    assert(autoBitsPerBand((1L << PlaneBitsPerBand) * AutoBandOcc + 1)
      === PlaneBitsPerBand + 1)
    assert(autoBitsPerBand(2000L) === 5)   // sf0.1 embeddings
    assert(autoBitsPerBand(20000L) === 9)  // the 10x sf1 point
    assert(autoBitsPerBand((1L << AutoMaxBitsPerBand) * AutoBandOcc)
      === AutoMaxBitsPerBand)
    assert(autoBitsPerBand(Long.MaxValue) === AutoMaxBitsPerBand)
  }

  test("recall-biased occupancy (s8/d5 headline face) trades 2 bits for 4x occ") {
    import DetParams._
    assert(RecallBandOcc === 4 * AutoBandOcc)
    // 4x the occupancy divisor = exactly 2 fewer bits away from the
    // floor/ceiling clamps
    assert(autoBitsPerBand(20000L, RecallBandOcc)
      === autoBitsPerBand(20000L) - 2)
    assert(autoBitsPerBand(2000L, RecallBandOcc) === PlaneBitsPerBand)
    assert(autoBitsPerBand(Long.MaxValue, RecallBandOcc)
      === AutoMaxBitsPerBand)
  }

  test("band tag stays single-char: the oracle truncation contract") {
    // OracleSql truncates auto keys with substr(k, 1, 2 + eb), which
    // assumes band tags '0:'..'9:' — a PlaneBandsCount > 10 would
    // make band '10:' a 3-char tag and silently misalign Spark and
    // oracle keys (OracleSql fails fast with the same require)
    assert(DetParams.PlaneBandsCount <= 10)
  }

  test("narrow band keys are string prefixes of wide ones (truncation contract)") {
    import spark.implicits._
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(64)
      .select(
        SketchBandsAuto(col("embedding"), 5).as("narrow"),
        SketchBandsAuto(col("embedding"), DetParams.AutoMaxBitsPerBand)
          .as("wide"))
    val rows = df.as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (narrow, wide) =>
      narrow.zip(wide).foreach { case (nk, wk) =>
        assert(wk.startsWith(nk), s"$wk does not extend $nk")
        assert(nk.length === 2 + 5 && wk.length ===
          2 + DetParams.AutoMaxBitsPerBand)
      }
    }
  }

  test("invalid inputs map to all-zero keys at the chosen width (SketchBands parity)") {
    import spark.implicits._
    val bad = Seq(
      (1L, null.asInstanceOf[Array[Double]]),
      (2L, Array.fill(3)(0.5)), // wrong dim
      (3L, Array.fill(DetParams.EmbedDim)(0.0)) // zero vector: no dot > 0
    ).toDF("id", "embedding")
    val keys = bad.select(SketchBandsAuto(col("embedding"), 6).as("k"))
      .as[Seq[String]].collect()
    keys.foreach { ks =>
      assert(ks === (0 until DetParams.PlaneBandsCount)
        .map(b => s"$b:" + "0" * 6))
    }
  }

  test("exact duplicates are found at every width; auto pair set is cosine-exact") {
    import spark.implicits._
    // 300 distinct random-ish vectors + 3 planted exact-duplicate ids
    val rnd = new scala.util.Random(7)
    val base = (0 until 300).map { i =>
      (i.toLong, Array.fill(DetParams.EmbedDim)(rnd.nextDouble() * 2 - 1))
    }
    val dups = Seq(
      (1000L, base(5)._2), (1001L, base(50)._2), (1002L, base(250)._2))
    val docs = (base ++ dups).toDF("vec_id", "embedding")
    val auto = SimilarityOps
      .embeddingNearDupPairsAuto(docs, "vec_id", "embedding", 0.999)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(Set((5L, 1000L), (50L, 1001L), (250L, 1002L)).subsetOf(auto),
      s"planted exact duplicates missed: $auto")
    // precision: every reported pair really clears the threshold
    val sims = SimilarityOps
      .embeddingNearDupPairsAuto(docs, "vec_id", "embedding", 0.999)
      .select("sim").as[Double].collect()
    assert(sims.forall(_ >= 0.999))
  }

  test("s19 cross join finds planted duplicates and bounds candidates linearly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // even ids = left corpus, odd ids = right corpus; right 2001
    // duplicates left 2000's vector exactly
    val vecs = (0 until 400).map { i =>
      (i.toLong, Array.fill(DetParams.EmbedDim)(rnd.nextDouble() * 2 - 1))
    }
    // base index 8: EVEN id, so the duplicated vector exists only on
    // the left side (an odd-id base would tie 2001 at rank 1)
    val planted = Seq((2000L, vecs(8)._2.clone()), (2001L, vecs(8)._2))
    val docs = (vecs ++ planted).toDF("vec_id", "embedding")
    val top = SimilarityOps.lshJoinTopKAuto(
        docs.filter(col("vec_id") % 2 === 0),
        docs.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", 3)
      .filter(col("l_id") === 2000L && col("rk") === 1)
      .select("r_id", "sim").as[(Long, Double)].collect()
    assert(top.length === 1 && top.head._1 === 2001L && top.head._2 === 1.0,
      s"planted cross-corpus duplicate not rank-1: ${top.toSeq}")
  }
}
