package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.RankOps

/** [[RankOps.globalQuantileRanks]] — the two-pass range-partitioned
  * ranking must be VALUE-identical to the built-in global window
  * functions (row_number / ntile / percent_rank / cume_dist over a
  * total order) on every bucket-boundary shape: n % tiles != 0, more
  * tiles than rows, ties in the value column (broken by id — the
  * total-order contract), single row, empty input, and numParts both
  * above and below the row count. */
class RankOpsSpec extends AnyFunSuite with SparkSessionFixture {

  private def referenceRanks(df: org.apache.spark.sql.DataFrame,
                             tiles: Int): Array[(Long, Long, Long, Long, Long)] = {
    val w = Window.orderBy(col("v").desc, col("id"))
    df.select(col("id"),
        row_number().over(w).cast("long").as("grank"),
        ntile(tiles).over(w).cast("long").as("tile"),
        floor(percent_rank().over(w) * lit(1.0e6)).cast("long").as("p"),
        floor(cume_dist().over(w) * lit(1.0e6)).cast("long").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
  }

  private def twoPass(df: org.apache.spark.sql.DataFrame, tiles: Int,
                      numParts: Int): Array[(Long, Long, Long, Long, Long)] = {
    RankOps.globalQuantileRanks(df,
        Seq(col("v").desc, col("id").asc), tiles, numParts)
      .select(col("id"), col("grank"), col("tile"),
        col("pct_rank_u"), col("cume_u"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
  }

  private def corpus(n: Int, distinctVals: Int) = {
    import spark.implicits._
    // ties on v (n / distinctVals rows per value) broken by id
    (1 to n).map(i => (i.toLong, (i % distinctVals).toDouble))
      .toDF("id", "v")
  }

  test("two-pass ranks equal the global window on uneven tile splits") {
    for ((n, tiles, parts) <- Seq((10, 4, 3), (97, 10, 8), (96, 10, 16))) {
      val df = corpus(n, 7)
      assert(twoPass(df, tiles, parts) === referenceRanks(df, tiles),
        s"n=$n tiles=$tiles parts=$parts")
    }
  }

  test("derived numParts (<= 0) matches the global window and an " +
      "explicit bucket count — r18: the declared q56 spelling derives " +
      "parts from the counted input") {
    val df = corpus(97, 7)
    // n = 97 << TargetBucketRows, so the derived count floors at 2
    // buckets; results must still equal the reference AND the
    // multi-bucket spelling
    assert(twoPass(df, 10, 0) === referenceRanks(df, 10))
    assert(twoPass(df, 10, 0) === twoPass(df, 10, 16))
    // derivation arithmetic: ceil(n / target) clamped to the cap
    assert(RankOps.TargetBucketRows > 0 && RankOps.MaxDerivedParts > 0)
  }

  test("more tiles than rows: each row its own bucket") {
    val df = corpus(3, 3)
    assert(twoPass(df, 10, 4) === referenceRanks(df, 10))
  }

  test("single row and empty input") {
    import spark.implicits._
    val one = Seq((1L, 5.0)).toDF("id", "v")
    assert(twoPass(one, 10, 4) === referenceRanks(one, 10))
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(twoPass(empty, 10, 4).isEmpty)
  }

  test("heavy ties across bucket boundaries stay exact") {
    // 2 distinct values over 50 rows, 8 range buckets: equal keys
    // straddle sampled bounds only if the partitioner splits a key —
    // it must not, and the id tiebreaker makes the order total either
    // way
    val df = corpus(50, 2)
    assert(twoPass(df, 10, 8) === referenceRanks(df, 10))
  }

  test("hundreds of buckets: the searchsorted probe holds at P = 320") {
    // the P-term when-chain spelling this regime replaced overflowed
    // catalyst's transform stack near P ≈ 300 and fell out of
    // efficient codegen; the searchsorted expression must stay exact
    // with a boundary table far wider than the sample guarantees
    val df = corpus(1000, 37)
    assert(twoPass(df, 10, 320) === referenceRanks(df, 10))
  }

  test("string order keys rank exactly (non-primitive comparator path)") {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"w${i % 9}")).toDF("id", "v")
    val w = Window.orderBy(col("v").desc, col("id"))
    val ref = df.select(col("id"),
        row_number().over(w).cast("long").as("grank"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val got = RankOps.globalQuantileRanks(df,
        Seq(col("v").desc, col("id").asc), tiles = 4, numParts = 5)
      .select(col("id"), col("grank"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got === ref)
  }

  test("null keys follow SortOrder defaults: asc nulls first, desc nulls last") {
    import spark.implicits._
    val rows = (1 to 40).map(i =>
      (i.toLong, if (i % 5 == 0) null else (i % 7).toString))
    val df = rows.toDF("id", "v")
    for (desc <- Seq(false, true)) {
      val vOrd = if (desc) col("v").desc else col("v").asc
      val w = Window.orderBy(vOrd, col("id"))
      val ref = df.select(col("id"),
          row_number().over(w).cast("long").as("grank"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val got = RankOps.globalQuantileRanks(df,
          Seq(vOrd, col("id").asc), tiles = 4, numParts = 6)
        .select(col("id"), col("grank"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got === ref, s"desc=$desc")
    }
  }

  test("no Exchange SinglePartition in the two-pass plan") {
    val plan = RankOps.globalQuantileRanks(corpus(100, 7),
        Seq(col("v").desc, col("id").asc), 10, 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    SparkEntry.releasePersisted(spark)
    assert(!plan.contains("SinglePartition"),
      s"two-pass ranking funneled through one partition:\n$plan")
  }
}
