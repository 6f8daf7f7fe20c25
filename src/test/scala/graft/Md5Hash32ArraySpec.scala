package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.plans.Md5Hash32Array

/** Codegen batch md5-prefix hash vs the per-element built-in
  * spelling — value-identical (the DuckDB oracle depends on it). */
class Md5Hash32ArraySpec extends AnyFunSuite with SparkSessionFixture {

  test("codegen array hash == transform(md5Hash32) on real trigrams") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tg = docs.select(Oracles.charTrigrams(col("text")).as("tgs"))
    val diff = tg.select(
        Md5Hash32Array(col("tgs")).as("fast"),
        transform(col("tgs"), s => DedupOps.md5Hash32(s)).as("slow"))
      .filter(to_json(col("fast")) =!= to_json(col("slow")))
      .count()
    assert(diff == 0L)
  }

  test("null elements map to null; empty array stays empty; unicode ok") {
    import spark.implicits._
    val df = Seq(
      (1, Seq[String]("abc", null, "ünï", "")),
      (2, Seq.empty[String])).toDF("id", "a")
    val rows = df.select(col("id"), Md5Hash32Array(col("a")).as("h"))
      .orderBy("id").collect()
    val h = rows(0).getSeq[java.lang.Long](1)
    assert(h(1) == null)
    assert(h(0) != null && h(2) != null && h(3) != null)
    assert(rows(1).getSeq[java.lang.Long](1).isEmpty)
    // cross-check one value against the built-in spelling
    val exp = spark.sql(
      "SELECT CAST(conv(substr(md5('abc'),1,8),16,10) AS BIGINT)").head().getLong(0)
    assert(h(0) == exp)
  }
}
