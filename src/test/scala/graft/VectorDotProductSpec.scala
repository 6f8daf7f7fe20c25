package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Codegen VectorDotProduct vs the interpreted HOF spelling —
  * bit-identical on every case, including nulls and length skew. */
class VectorDotProductSpec extends AnyFunSuite with SparkSessionFixture {

  test("codegen dot == HOF dot bit-for-bit on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < 20 && col("b.vec_id") < 20)
    val diff = pairs.select(
        SimilarityOps.dotD(col("a.embedding"), col("b.embedding")).as("fast"),
        Oracles.dotHof(col("a.embedding"), col("b.embedding")).as("slow"))
      .filter(col("fast") =!= col("slow"))  // exact double comparison
      .count()
    assert(diff == 0L)
  }

  test("mixed float/double arrays (hyperplane literals)") {
    import spark.implicits._
    val plane = typedLit(Seq(0.5, -0.25, 0.125))
    val df = Seq(Seq(1.0f, 2.0f, 4.0f)).toDF("v")
    val got = df.select(
      SimilarityOps.dotD(col("v"), plane).as("f"),
      Oracles.dotHof(col("v"), plane).as("s")).head()
    assert(got.getDouble(0) == 0.5)
    assert(got.getDouble(0) == got.getDouble(1))
  }

  test("null semantics match zip_with padding: length mismatch → null") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)),           // length mismatch
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val rows = df.select(
      SimilarityOps.dotD(col("a"), col("b")).as("f"),
      Oracles.dotHof(col("a"), col("b")).as("s")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 5.0 && rows(1).getDouble(1) == 5.0)
  }

  test("null input column → null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(SimilarityOps.dotD(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("SQL surface via GraftExtensions.register") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(3.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head()
    assert(r.getDouble(0) == 14.0)
  }

  test("all custom expressions are SQL-callable after register") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  size(hashed_trigrams32('hello world')) AS n_tg,
        |  size(minhash_signature(hashed_trigrams32('hello world'))) AS n_sig,
        |  simhash60(md5_hash32_array(array('a', 'b'))) AS sh,
        |  rolling_hash_min('abcdefghij') AS rh""".stripMargin).head()
    assert(r.getInt(0) == 9)  // 11 chars → 9 windows, all distinct
    assert(r.getInt(1) == graft.operators.DetParams.MinhashK)
    assert(!r.isNullAt(2) && !r.isNullAt(3))
  }

  test("codegen actually fires (no fallback to interpreted path)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = e.select(
        SimilarityOps.dotD(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [vec_dot"), plan)
  }
}
