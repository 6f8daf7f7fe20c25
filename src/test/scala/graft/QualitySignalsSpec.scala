package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** Specs for the corpus-quality training signals: the distributed
  * logistic-regression fit (m7) and the char-entropy query (t11). */
class QualitySignalsSpec extends AnyFunSuite with SparkSessionFixture {

  /** Driver-side reference of logisticFitWeights' documented contract:
    * sigmoid rounded HALF_UP at 6 dp, per-row gradient contribution
    * quantized HALF_UP to 12 dp, exact decimal sums, plain double
    * weight updates. Must match the distributed fit to the BIT. */
  private def refFit(rows: Seq[(Double, Array[Double])], iters: Int,
                     lr: Double): Array[Double] = {
    val k = rows.head._2.length
    var w = Array.fill(k)(0.0)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(BigDecimal(0))
      rows.foreach { case (y, x) =>
        val z = x.zip(w).map { case (xi, wi) => wi * xi }.reduceLeft(_ + _)
        val p6 = BigDecimal(1.0 / (1.0 + math.exp(-z)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        for (j <- 0 until k)
          sums(j) += BigDecimal((p6 - y) * x(j))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      w = w.zipWithIndex.map { case (wi, j) =>
        wi - lr * (sums(j).toDouble / rows.size)
      }
    }
    w
  }

  test("logisticFitWeights: bit-identical to the scalar reference") {
    import spark.implicits._
    val rows = (0 until 64).map { i =>
      val x1 = (i % 7) / 3.0; val x2 = (i % 5) / 2.0
      val y = if (x1 - x2 > 0.2) 1.0 else 0.0
      (y, Array(1.0, x1, x2))
    }
    val df = rows.map { case (y, x) => (y, x(0), x(1), x(2)) }
      .toDF("y", "xb", "x1", "x2")
    val got = CorpusOps.logisticFitWeights(
      df, "y", Seq("xb", "x1", "x2"), iters = 3, lr = 0.5)
    val want = refFit(rows, iters = 3, lr = 0.5)
    assert(got.toSeq == want.toSeq) // exact ==, not tolerance
  }

  test("logisticFitWeights: learns the separating direction") {
    import spark.implicits._
    // y = 1 iff x1 large: w_x1 must come out positive, bias negative
    val df = (0 until 200).map { i =>
      val x1 = i / 200.0
      (if (x1 > 0.5) 1.0 else 0.0, 1.0, x1)
    }.toDF("y", "xb", "x1")
    val w = CorpusOps.logisticFitWeights(df, "y", Seq("xb", "x1"), 10, 1.0)
    assert(w(1) > 0.0)
    assert(w(1) > w(0)) // slope dominates bias for this split
  }

  test("naiveBayesModel: closed-form counts on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(("en", "a b a"), ("en", "a"), ("de", "c c"))
      .toDF("lang", "text")
    val got = CorpusOps.naiveBayesModel(
        docs, "lang", split(col("text"), " "), topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // V = {a,b,c}; en: a=3 b=1 (c1=4), de: c=2 (c1=2); nd=3
    assert(got(("en", "a")) == ((r6(math.log(4.0 / 7)), r6(math.log(2.0 / 3)))))
    assert(got(("en", "b")) == ((r6(math.log(2.0 / 7)), r6(math.log(2.0 / 3)))))
    assert(got(("de", "c")) == ((r6(math.log(3.0 / 5)), r6(math.log(1.0 / 3)))))
    assert(got.size == 3)
  }

  test("t11 char entropy: uniform and constant strings hit closed forms") {
    import spark.implicits._
    val dir = tempDir("t11docs").toString
    Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t11_char_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((4L, 0.0)))
    assert(!(1.0 / got(1L)._2 < 0))          // +0.0, not -0.0
    assert(got(2L) == ((4L, 0.693147)))      // ln 2 quantized at 6 dp
    assert(got(3L) == ((4L, 1.386294)))      // ln 4 quantized at 6 dp
    assert(!got.contains(4L))                // empty text dropped
  }

  test("tfidfCosinePairs: maxDf cut, exact cosine, no NaN rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // c is corpus-wide (df=3 > maxDf=2) → cut from the vocabulary;
    // docs 1 and 2 agree exactly on the surviving {x, y}, doc 3
    // shares nothing below the cap
    val docs = Seq(
      (1L, Seq("x", "y", "c")),
      (2L, Seq("x", "y", "c")),
      (3L, Seq("c", "q"))).toDF("doc_id", "toks")
    val (pairs, _) = graft.operators.CorpusOps
      .tfidfCosinePairs(docs, "doc_id", col("toks"), maxDf = 2L, minCos = 0.3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("tfidfCosinePairs: empty and single-doc corpora yield no pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, Seq[String])].toDF("doc_id", "toks")
    val (fromEmpty, _) = graft.operators.CorpusOps
      .tfidfCosinePairs(empty, "doc_id", col("toks"), 10L, 0.0)
    assert(fromEmpty.collect().isEmpty)
    val one = Seq((1L, Seq("x", "y"))).toDF("doc_id", "toks")
    val (fromOne, _) = graft.operators.CorpusOps
      .tfidfCosinePairs(one, "doc_id", col("toks"), 10L, 0.0)
    assert(fromOne.collect().isEmpty)
  }

  test("tfidfCosinePairs: all-shared vocabulary yields no pairs, not NaN") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every term in every doc → idf = round(ln(1), 6) = 0 → zero
    // norms; the 0/0 cosine must be dropped by the threshold, never
    // emitted as NaN
    val docs = Seq(
      (1L, Seq("x", "y")),
      (2L, Seq("x", "y"))).toDF("doc_id", "toks")
    val (pairs, _) = graft.operators.CorpusOps
      .tfidfCosinePairs(docs, "doc_id", col("toks"), maxDf = 10L, minCos = 0.0)
    val got = pairs.collect()
    assert(got.isEmpty)
  }

  test("alphaMixSample: sub-linear rates, full census, deterministic") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (sampled, census) = graft.operators.CorpusOps
      .alphaMixSample(docs, "source", col("text"), budgetDen = 4)
    val c = census.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3)))
    val nSources = docs.select("source").distinct().count()
    assert(c.length == nSources, "every source appears in the census")
    // α = 0.5 upweights small sources: rates must be antitone in size
    // (strictly larger source => no larger rate), modulo the 1e6 cap
    val bySize = c.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Array((_, n1, r1, _), (_, n2, r2, _)) =>
        if (n1 < n2) assert(r1 >= r2,
          s"rate must not grow with source size: n=$n1 r=$r1 vs n=$n2 r=$r2")
      case _ => () // single-source census: nothing to compare
    }
    // the realized sample respects the rates exactly (hash residue is
    // deterministic): re-running produces the identical sampled set
    val again = graft.operators.CorpusOps
      .alphaMixSample(docs, "source", col("text"), budgetDen = 4)._1
    assert(sampled.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(again.select("doc_id").collect().map(_.getLong(0)).sorted))
    // census counts match the sampled frame
    assert(c.map(_._4).sum == sampled.count())
  }
}
