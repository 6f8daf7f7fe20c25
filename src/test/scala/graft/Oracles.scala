package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.ml.{SentimentModel, SentimentScorer}
import graft.operators.DedupOps.{md5Hash32, md5Hash60}
import graft.operators.DetParams._

/** Built-in spellings the specs hold the engine's codegen expressions
  * and fused scoring chain to. No query, serving path, tool or
  * benchmark calls them, so they live with the specs. */
object Oracles {

  /** Distinct character trigrams of a (lowercased) string column.
    * Guarded for len < 3 (Spark's sequence(1,0) would step -1). */
  def charTrigrams(c: Column): Column = {
    val lc = lower(c)
    array_distinct(
      when(length(lc) >= 3,
        transform(sequence(lit(1), length(lc) - 2),
          i => substring(lc, i, lit(3))))
        .otherwise(array().cast("array<string>")))
  }

  /** MinHash signature (length [[graft.operators.DetParams.MinhashK]])
    * over a distinct shingle array: sig_i = min over shingles of
    * (a_i*h32(s)+b_i) mod P. As a single Column this embeds the
    * md5-hashing subtree in every one of the K slots. */
  def minhashSignature(shingles: Column): Column = {
    val hs = transform(shingles, s => md5Hash32(s))
    minhashFromHashes(hs)
  }

  /** K affine-map minima over an already-hashed shingle array —
    * built-in HOF spelling (K interpreted `array_min(transform(...))`
    * passes), the value-parity oracle for the codegen
    * [[graft.plans.MinHashSignature]]. */
  def minhashFromHashes(hs: Column): Column =
    array((0 until MinhashK).map { i =>
      array_min(transform(hs,
        h => pmod(h * minhashA(i) + minhashB(i), lit(MinhashP))))
    }: _*)

  /** 60-bit SimHash over a token array (duplicates = tf weighting):
    * bit b of the fingerprint is set iff
    * sum over tokens of (bit b of h60(token) ? +1 : -1) > 0. */
  def simhash60(tokens: Column): Column =
    simhashFromHashes(transform(tokens, t => md5Hash60(t)))

  /** The 60 bit terms over an already-hashed token array column —
    * built-in HOF spelling (60 interpreted `aggregate` passes), the
    * value-parity oracle for the codegen [[graft.plans.SimHash60]]. */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 60).map { b =>
      val bitsum = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitsum > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The rolling fingerprint via built-in higher-order functions
    * (O(window*len), interpreted) — cross-check oracle for the
    * codegen [[graft.plans.RollingHashMin]]. */
  def rollingFingerprintHof(text: Column): Column = {
    val B = 257L
    val P = 1000000007L
    when(length(text) >= 8,
      array_min(transform(sequence(lit(1), length(text) - 7), i =>
        aggregate(
          transform(sequence(lit(0), lit(7)),
            j => ascii(substring(text, i + j, lit(1))).cast("long")),
          lit(0L), (acc, x) => pmod(acc * B + x, lit(P))))))
      .otherwise(lit(null).cast("long"))
  }

  /** Jaccard similarity of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b))

  /** The dot product spelled with built-in higher-order functions
    * (interpreted) — cross-check oracle for the codegen
    * [[graft.plans.VectorDotProduct]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** The stop-word filter over `model`'s own stop list as a built-in
    * expression (`isInCollection` → optimizer-rewritten `InSet`) —
    * the filter the scorer's margin expression folds in, spelled out
    * so the specs can hold the folded form to the chained one. */
  def removeStopWords(model: SentimentModel, tokens: Column): Column = {
    val stopSet = model.stopWords.map(_.toLowerCase).distinct.toSeq.sorted
    filter(tokens, t => !lower(t).isInCollection(stopSet))
  }

  /** Scorer faces the specs compare the serving chain against. */
  implicit final class ScorerOracles(private val s: SentimentScorer)
      extends AnyVal {

    /** stop-word-filtered words → prediction (M2–M5 only). */
    def predictFromWords(words: Column): Column =
      s.predictCol(words, filterStops = false)

    def marginFromWords(words: Column): Column =
      s.marginCol(words, filterStops = false)

    /** `scoreText` with the full transform column set. */
    def scoreTextFull(df: DataFrame, textCol: String): DataFrame =
      s.withScores(
        df.withColumn("cleaned_data", TextOps.cleanTokens(col(textCol))),
        "cleaned_data")
  }
}
