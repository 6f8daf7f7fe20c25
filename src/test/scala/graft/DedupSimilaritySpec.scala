package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, DetParams, SimilarityOps}

/** Unit specs for the dedup/similarity operator family. */
class DedupSimilaritySpec extends AnyFunSuite with SparkSessionFixture {

  test("charTrigrams: distinct, lowercased, short-string guard") {
    import spark.implicits._
    val got = Seq("ABABAB", "ab", "").toDF("text")
      .select(Oracles.charTrigrams(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("aba", "bab")) // distinct, first-occurrence order
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("minhash signature: order-invariant, equal for equal sets, length K") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "fox brown quick the").toDF("text")
      .select(Oracles.minhashSignature(
        Oracles.charTrigrams(col("text"))).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0).length == DetParams.MinhashK)
    // same trigram *set* would give same sig; these differ slightly but
    // every slot must be a valid residue mod P
    assert(sigs.flatten.forall(v => v >= 0 && v < DetParams.MinhashP))
    val dup = Seq("identical text here", "identical text here").toDF("text")
      .select(Oracles.minhashSignature(
        Oracles.charTrigrams(col("text"))).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(dup(0) == dup(1))
  }

  test("minhash LSH: exact duplicates always collide in every band") {
    import spark.implicits._
    val docs = Seq(
      (1L, "completely identical document body"),
      (2L, "completely identical document body"),
      (3L, "something else entirely different")).toDF("doc_id", "text")
    val pairs = DedupOps.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L &&
      p._3 == DetParams.MinhashBands.toLong))
  }

  test("deduplicateCorpusKeepBest: keeps the highest-quality cluster member") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, 0.2),  // exact dup of 2 (collides in every band), low quality
      (2L, base, 0.9),  // the copy a quality policy must keep
      (3L, "an entirely unrelated document about query planners", 0.5))
      .toDF("doc_id", "text", "score")
    val (keepMin, keepBest, release) = DedupOps.dedupPipeline(
      docs, "doc_id", "text", threshold = 0.6)
    val kept = keepBest(col("score"))
      .select("doc_id").as[Long].collect().sorted
    // min-id policy would keep 1; the quality policy keeps 2
    assert(kept.toSeq == Seq(2L, 3L))
    // sanity: the min-id policy keeps 1 on the same corpus
    val minId = keepMin.select("doc_id").as[Long].collect().sorted
    assert(minId.toSeq == Seq(1L, 3L))
    release()
  }

  test("simhash: deterministic, identical inputs → identical fingerprints") {
    import spark.implicits._
    val df = Seq(
      Seq("alpha", "beta", "gamma"),
      Seq("alpha", "beta", "gamma"),
      Seq("delta", "epsilon")).toDF("toks")
      .select(Oracles.simhash60(col("toks")).as("sh"))
    val vals = df.collect().map(_.getLong(0))
    assert(vals(0) == vals(1))
    assert(vals(0) != vals(2))
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("simhash hamming pairs: exact dup → hamming 0; disjoint text absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("alpha", "beta", "gamma", "delta")),
      (3L, Seq("umber", "violet", "wisteria"))).toDF("doc_id", "toks")
    val pairs = DedupOps.simhashHammingPairs(docs, "doc_id", col("toks"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("rolling fingerprint codegen == HOF spelling on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
        DedupOps.rollingFingerprint(col("text")).as("fast"),
        Oracles.rollingFingerprintHof(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0L)
  }

  test("rolling fingerprint: deterministic, shift-invariant min, short-text null") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps",
      "XX the quick brown fox jumps", // superset of windows → min <= first's
      "short").toDF("text")
      .select(DedupOps.rollingFingerprint(col("text")).as("fp"))
    val rows = df.collect()
    val fp0 = rows(0).getLong(0)
    val fp1 = rows(1).getLong(0)
    assert(fp1 <= fp0) // extra windows can only lower the min
    assert(rows(2).isNullAt(0))
    // reference value computed by hand fold for one window ("the quic")
    val w = "the quic".map(_.toLong)
    val href = w.foldLeft(0L)((a, c) => (a * 257 + c) % 1000000007L)
    assert(fp0 <= href)
  }

  test("jaccard: identical → 1.0, disjoint → 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d"))).toDF("x", "y")
      .select(Oracles.jaccard(col("x"), col("y")).as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0))
  }

  test("cosine: exact on known vectors") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),   // orthogonal
      (Seq(1.0f, 2.0f), Seq(2.0f, 4.0f)),   // parallel
      (Seq(3.0f, 4.0f), Seq(4.0f, 3.0f)))
      .toDF("a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("c"))
    val got = df.collect().map(_.getDouble(0))
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) - 24.0 / 25.0) < 1e-12)
  }

  test("bruteForceTopK: k rows per query, self excluded, rank order") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = SimilarityOps.bruteForceTopK(
      e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 4)
    val rows = res.collect()
    assert(rows.length == 12) // 3 queries x 4 neighbors
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { g =>
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)               // descending by rank
      assert(!g.exists(r => r.getLong(1) == r.getLong(0))) // no self-match
    }
  }

  test("lshTopKAuto results are a subset of brute-force candidates, same scores") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 3)
    val bf = SimilarityOps.bruteForceTopK(e, qs, "vec_id", "embedding", 500)
      .select("q_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilarityOps.lshTopKAuto(e, qs, "vec_id", "embedding", 3).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf.contains(key) && bf(key) == r.getDouble(2))
    }
  }

  test("lshJoinTopKAuto matches the window spelling over the same candidates") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val L = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val R = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    val got = SimilarityOps.lshJoinTopKAuto(L, R, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    // reference: identical banded candidate set ranked by a window —
    // the aggregate (TopKRows) and the sort-based spellings must agree
    // under the shared (sim desc, id asc) total order; the geometry is
    // the operator's own rule over the larger side
    val bits = graft.operators.DetParams.autoBitsPerBand(
      math.max(L.count(), R.count()))
    def banded(df: org.apache.spark.sql.DataFrame, id: String, emb: String, nrm: String) =
      df.select(col("vec_id").as(id), col("embedding").as(emb))
        .withColumn(nrm, SimilarityOps.l2norm(col(emb)))
        .filter(col(nrm) > 0.0)
        .withColumn("bkey",
          explode(graft.plans.SketchBandsAuto(col(emb), bits)))
    val w = Window.partitionBy(col("l_id")).orderBy(col("sim").desc, col("r_id"))
    val ref = banded(L, "l_id", "l_emb", "l_nrm")
      .join(banded(R, "r_id", "r_emb", "r_nrm"), "bkey")
      .select(col("l_id"), col("r_id"),
        round(SimilarityOps.dotD(col("l_emb"), col("r_emb")) /
          (col("l_nrm") * col("r_nrm")), 6).as("sim"))
      .distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("l_id"), col("rk"), col("r_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got.nonEmpty)
    assert(got == ref)
    // left/right split is disjoint: no self-matches possible
    assert(got.forall { case (l, _, r, _) => l % 2 == 0 && r % 2 == 1 })
  }

  // Diff-based hygiene (see GraphOpsSpec): global isEmpty asserts are
  // flaky against RDD-level residue from earlier suites, which
  // clearCache() cannot reach and suite order does not guarantee away.
  test("nearDuplicatePairsReleasable: release() leaves no cached blocks") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (pairs, release) = DedupOps.nearDuplicatePairs(
      docs, "doc_id", "text", threshold = 0.6)
    assert(pairs.count() >= 0) // action materializes the persisted table
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"trigram table still cached after release(): $leaked")
  }

  test("semanticDedupReleasable: release() leaves no cached blocks") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (kept, release) = SimilarityOps.semanticDedup(
      e, "vec_id", "embedding", numCentroids = 8, minCos = 0.45)
    assert(kept.count() > 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"assignment table still cached after release(): $leaked")
  }

  // The policies' values are checked against DuckDB by the d10/d11
  // oracles; this pins their shared shape and the release bound.
  test("dedupPipeline: both policies keep one doc per cluster; bounded release") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (keepMin, keepBest, release) = DedupOps.dedupPipeline(
      docs, "doc_id", "text", threshold = 0.6)
    val pMin = keepMin.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val pBest = keepBest(col("n_chars")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pMin.size == pBest.size, "both policies keep one doc per cluster")
    // release() frees the pipeline's materialized closure leaf when
    // the distributed star rounds ran; under the r18 driver finish
    // (edge set below the memory bound — always true at sf0.001) the
    // leaf was already released inside the operator and release() is
    // a no-op, so the diff is 0 or 1 blocks, never more
    val before = spark.sparkContext.getPersistentRDDs.keySet
    release()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((before -- after).size <= 1,
      s"release() freed more than the pipeline closure: before=$before after=$after")
  }

  test("tfidfCosinePairsReleasable: release() leaves no cached blocks") {
    import graft.operators.CorpusOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (pairs, release) = CorpusOps.tfidfCosinePairs(
      docs, "doc_id", split(lower(col("text")), "\\s+"),
      maxDf = 100L, minCos = 0.3)
    assert(pairs.count() >= 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"weighting table still cached after release(): $leaked")
  }

  test("incrementalDedup agrees with the all-pairs verify on the cross split") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    // reference: full-corpus verified pairs restricted to (delta,
    // base) cross edges, min base id per delta doc
    val (pairs, refRelease) =
      DedupOps.nearDuplicatePairs(docs, "doc_id", "text", 0.6)
    val ref = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (d, bs) => d % 5 == 0 && bs % 5 != 0 }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    refRelease()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (admitted, release) = DedupOps.incrementalDedup(
      base, delta, "doc_id", "text", threshold = 0.6)
    val got = admitted.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == deltaIds, "one output row per delta doc")
    deltaIds.foreach { d =>
      assert(got(d) == ref.get(d), s"dup_of mismatch for delta doc $d")
    }
    // base-vs-base and delta-vs-delta pairs must never leak in
    assert(got.values.flatten.forall(_ % 5 != 0), "dup_of must be a base id")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"trigram tables survived release(): $leaked")
  }
}
