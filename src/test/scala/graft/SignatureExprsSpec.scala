package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.plans.{HashedTrigrams32, Md5Hash32Array, MinHashSignature, SimHash60}

/** Codegen one-pass signature expressions vs their built-in HOF
  * spellings — value-identical on real corpus data and on null/empty
  * edge cases (the DuckDB oracles are written against the HOF
  * spellings, so parity here is what keeps d2/d3 hash-matching). */
class SignatureExprsSpec extends AnyFunSuite with SparkSessionFixture {

  test("fused trigram hash == staged distinct(md5(charTrigrams)) spelling") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
        HashedTrigrams32(col("text")).as("fast"),
        array_distinct(Md5Hash32Array(
          Oracles.charTrigrams(col("text")))).as("slow"))
      .filter(to_json(col("fast")) =!= to_json(col("slow")))
      .count()
    assert(diff == 0L)
  }

  test("fused trigram hash edge cases: short, empty, unicode, null") {
    import spark.implicits._
    val df = Seq((1, "ab"), (2, ""), (3, "ÜniCode Müll"), (4, null),
        (5, "aaaa"), (6, "AbCaBC")) // dups + case folding
      .toDF("id", "t")
    val rows = df.select(
        col("id"),
        HashedTrigrams32(col("t")).as("fast"),
        array_distinct(Md5Hash32Array(
          Oracles.charTrigrams(col("t")))).as("slow"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id=${r.getInt(0)}")
    }
    assert(rows(0).getSeq[Any](1).isEmpty)   // len<3 → empty
    assert(rows(3).getSeq[Any](1).isEmpty)   // null in → empty (otherwise branch)
    assert(rows(4).getSeq[Any](1).size == 1) // "aaaa" → one distinct trigram
  }

  test("minhash codegen == K-pass HOF spelling on real trigrams") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hs = docs
      .select(Oracles.charTrigrams(col("text")).as("tgs"))
      .select(Md5Hash32Array(col("tgs")).as("hs"))
    val diff = hs.select(
        MinHashSignature(col("hs")).as("fast"),
        Oracles.minhashFromHashes(col("hs")).as("slow"))
      .filter(to_json(col("fast")) =!= to_json(col("slow")))
      .count()
    assert(diff == 0L)
  }

  test("simhash codegen == 60-pass HOF spelling on real tokens") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hs = docs
      .select(graft.functions.TextOps.cleanTokens(col("text")).as("toks"))
      .select(transform(col("toks"), t => DedupOps.md5Hash60(t)).as("hs"))
    val diff = hs.select(
        SimHash60(col("hs")).as("fast"),
        Oracles.simhashFromHashes(col("hs")).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L)
  }

  test("edge cases: empty array, null element, domain-boundary hashes") {
    import spark.implicits._
    // domain = md5Hash32 outputs: [0, 2^32). Larger values would
    // overflow h*a in the HOF spelling too (ANSI error), so both
    // spellings share the same domain.
    val df = Seq(
      (1, Seq[java.lang.Long](7L, 42L, 4294967295L)),
      (2, Seq.empty[java.lang.Long]),
      (3, Seq[java.lang.Long](7L, null, 42L)),
      (4, Seq[java.lang.Long](0L, 1L, 4294967294L)))
      .toDF("id", "hs")
    val rows = df.select(
        col("id"),
        MinHashSignature(col("hs")).as("mh_fast"),
        Oracles.minhashFromHashes(col("hs")).as("mh_slow"),
        SimHash60(col("hs")).as("sh_fast"),
        Oracles.simhashFromHashes(col("hs")).as("sh_slow"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[java.lang.Long](1) == r.getSeq[java.lang.Long](2),
        s"minhash mismatch id=${r.getInt(0)}")
      assert(r.get(3) == r.get(4), s"simhash mismatch id=${r.getInt(0)}")
    }
    // empty array → all-null minhash slots (array_min of empty = null)
    assert(rows(1).getSeq[java.lang.Long](1).forall(_ == null))
    // null element → simhash 0 (HOF's null-poisoned aggregate)
    assert(rows(2).getLong(3) == 0L)
  }

  test("NULL input array parity: non-null K-null minhash, simhash 0") {
    import spark.implicits._
    // HOF spellings never return NULL for a null array: the minhash
    // outer array(..) constructor yields K nulls, and simhash's
    // null-poisoned aggregates fall to otherwise(0). The codegen
    // expressions must agree (reachable via withSimhash on a null
    // tokens column: transform(null, ..) -> null hash array).
    val df = Seq((1, null: Seq[java.lang.Long]), (2, Seq[java.lang.Long](7L)))
      .toDF("id", "hs")
    val rows = df.select(
        col("id"),
        MinHashSignature(col("hs")).as("mh_fast"),
        Oracles.minhashFromHashes(col("hs")).as("mh_slow"),
        SimHash60(col("hs")).as("sh_fast"),
        Oracles.simhashFromHashes(col("hs")).as("sh_slow"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[java.lang.Long](1) == r.getSeq[java.lang.Long](2),
        s"minhash mismatch id=${r.getInt(0)}")
      assert(r.get(3) == r.get(4), s"simhash mismatch id=${r.getInt(0)}")
    }
    val nullRow = rows(0)
    assert(!nullRow.isNullAt(1) && nullRow.getSeq[java.lang.Long](1).forall(_ == null))
    assert(!nullRow.isNullAt(3) && nullRow.getLong(3) == 0L)
  }
}
