package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.SketchBandsAuto

/** The codegen sign-LSH sketch's element-type handling: the
  * embeddings table stores array<float>, and the float branch must
  * key exactly like the same values widened to array<double> (the
  * DuckDB oracles dot in double). Width, prefix and invalid-input
  * contracts live in AutoLshSpec. */
class SketchBandsSpec extends AnyFunSuite with SparkSessionFixture {

  test("float input parity (embeddings table element type)") {
    import spark.implicits._
    val dim = graft.operators.DetParams.EmbedDim
    val df = Seq((1, Seq.tabulate(dim)(i => (i % 11 - 5).toFloat / 4)))
      .toDF("id", "ef")
    for (bits <- Seq(4, 9, graft.operators.DetParams.AutoMaxBitsPerBand)) {
      val r = df.select(
          SketchBandsAuto(col("ef"), bits).as("f"),
          SketchBandsAuto(col("ef").cast("array<double>"), bits).as("d"))
        .head()
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"bits = $bits")
      assert(r.getSeq[String](0).exists(_.contains('1')), "no signal")
    }
  }
}
