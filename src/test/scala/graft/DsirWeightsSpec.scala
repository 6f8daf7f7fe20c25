package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusOps

/** [[CorpusOps.dsirWeights]] — DSIR hashed-n-gram importance weights.
  * Pins (1) bit-parity of the whole pipeline (md5 bucketing, add-one
  * smoothing, micro-nat ln quantization, exact Long sums) against an
  * independent scalar reference implementation, (2) the selection
  * property the operator exists for (target-domain docs outweigh
  * background docs when the domains are token-disjoint), and (3) the
  * scale contract: the corpus text is scanned ONCE — every other
  * consumer of the (doc, bucket, c) frame rides exchange reuse. */
class DsirWeightsSpec extends AnyFunSuite with SparkSessionFixture {

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._

  private val Buckets = 64

  private def docsDf(rows: Seq[(Long, String, Seq[String])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("src", StringType),
      StructField("toks", ArrayType(StringType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 4),
      schema)
  }

  private def run(rows: Seq[(Long, String, Seq[String])]): Map[Long, (Long, Long)] =
    CorpusOps.dsirWeights(docsDf(rows), "doc_id", col("toks"),
        col("src") === "tgt", Buckets)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  // ---- independent scalar reference ---------------------------------

  private def bucketOf(f: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) %
      Buckets
  }

  private def lnMicro(num: Long, den: Long): Long =
    (BigDecimal(math.log(num.toDouble / den))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact

  private def reference(rows: Seq[(Long, String, Seq[String])]): Map[Long, (Long, Long)] = {
    val feats = rows.filter(_._3.nonEmpty).map { case (id, src, toks) =>
      val f = toks ++ toks.sliding(2).collect { case Seq(a, b) => s"$a $b" }
      (id, src == "tgt", f.map(bucketOf))
    }
    val cq = feats.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong)
    val ct = feats.filter(_._2).flatMap(_._3).groupBy(identity)
      .view.mapValues(_.size.toLong)
    val nq = cq.values.sum
    val nt = ct.values.sum
    val wMu = cq.keys.map { b =>
      b -> (lnMicro(ct.getOrElse(b, 0L) + 1, nt + Buckets) -
        lnMicro(cq(b) + 1, nq + Buckets))
    }.toMap
    feats.map { case (id, _, bs) =>
      id -> (bs.size.toLong, bs.map(wMu).sum)
    }.toMap
  }

  private val mixedCorpus: Seq[(Long, String, Seq[String])] = {
    // deterministic pseudo-random corpus over a shared vocabulary so
    // target and background OVERLAP (the realistic case: weights come
    // from distribution shift, not disjoint support)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (0L until 40L).map { i =>
      val src = if (i % 4 == 0) "tgt" else s"bg${i % 3}"
      // target skews toward the low-vocab half, background uniform
      val toks = (0 until (3 + (i % 5)).toInt).map { j =>
        val h = (i * 31 + j * 7) % (if (src == "tgt") 5 else 10)
        vocab(h.toInt)
      }
      (i, src, toks)
    }
  }

  test("bit-parity with the scalar reference on an overlapping corpus") {
    assert(run(mixedCorpus) === reference(mixedCorpus))
  }

  test("token-disjoint target domain outweighs the background") {
    val rows = Seq[(Long, String, Seq[String])](
      (1L, "tgt", Seq("aa", "bb", "aa")),
      (2L, "tgt", Seq("bb", "aa")),
      (3L, "bg", Seq("cc", "dd", "cc")),
      (4L, "bg", Seq("dd", "cc")),
      (5L, "bg", Seq("aa", "bb"))) // target-LIKE background doc
    val w = run(rows)
    val tgtMin = Seq(1L, 2L).map(id => w(id)._2.toDouble / w(id)._1).min
    val bgMax = Seq(3L, 4L).map(id => w(id)._2.toDouble / w(id)._1).max
    assert(tgtMin > bgMax,
      s"target per-feature weight must exceed background: $w")
    // the target-like background doc scores like the target docs, not
    // like its source — selection is by CONTENT, which is the point
    assert(w(5L)._2.toDouble / w(5L)._1 > bgMax)
  }

  test("zero-token docs are excluded; one-token docs carry one feature") {
    val rows = Seq[(Long, String, Seq[String])](
      (1L, "tgt", Seq("aa")),
      (2L, "bg", Seq.empty),
      (3L, "bg", Seq("bb", "cc")))
    val w = run(rows)
    assert(!w.contains(2L))
    assert(w(1L)._1 === 1L) // 1 unigram, no bigram
    assert(w(3L)._1 === 3L) // 2 unigrams + 1 bigram
  }

  test("n_feats is 2n-1 and the result is deterministic across runs") {
    val a = run(mixedCorpus); val b = run(mixedCorpus)
    assert(a === b)
    mixedCorpus.foreach { case (id, _, toks) =>
      if (toks.nonEmpty) assert(a(id)._1 === 2L * toks.size - 1) }
  }

  test("t26 scoring pass is one narrow scan — no exchange, no second scan") {
    // the fit pass is its own driver-side fold (<= buckets rows); the
    // RETURNED scoring plan must be scan → project only: one file
    // scan, zero exchanges (the weight table rides in as a literal)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = SparkEntry.queries("t26_dsir_weights")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    def count(p: SparkPlan)(f: SparkPlan => Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.finalPhysicalPlan)(f)
      case q: QueryStageExec => count(q.plan)(f)
      case p if f(p) => 1
      case _ => p.children.map(count(_)(f)).sum
    }
    val plan = df.queryExecution.executedPlan
    val scans = count(plan) { case _: FileSourceScanExec => true; case _ => false }
    SparkEntry.releasePersisted(spark)
    assert(scans == 1, s"scoring pass must scan the corpus once, got $scans")
    // the t26 query adds a top-k — a TakeOrdered, whose final merge is
    // allowed; what must NOT appear is a shuffle/broadcast for the
    // scoring itself (no join, no re-aggregation)
    val exchanges = count(plan) { case _: Exchange => true; case _ => false }
    assert(exchanges == 0,
      s"scoring pass must be narrow (0 exchanges), got $exchanges:\n$plan")
  }
}
