package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** [[DedupOps.lshCandidateRecall]] — the empirical banding
  * recall/precision readout. Pins the fixed points the corpus can't:
  * exact duplicates are ALWAYS candidates (identical trigram sets
  * share every band key → recall 1.0 when truth is exact dups only),
  * a pairwise-dissimilar corpus reports zero true pairs with the
  * divide guards engaged, and goldN truncates the subset. */
class LshRecallSpec extends AnyFunSuite with SparkSessionFixture {

  private def run(rows: Seq[(Long, String)], goldN: Int,
                  threshold: Double): (Long, Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val (recall, _) = DedupOps.lshCandidateRecall(
      rows.toDF("doc_id", "text"), "doc_id", "text", threshold, goldN)
    val r = recall.collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
  }

  test("exact duplicates: recall is exactly 1.0") {
    val base = "the quick brown fox jumps over the lazy dog repeatedly"
    val distinct = Seq(
      "completely different material about astronomy and orbits",
      "a third text concerning maritime navigation and charts")
    val rows = Seq(1L -> base, 2L -> base, 3L -> distinct(0), 4L -> distinct(1))
    val (nDocs, nTrue, _, nHit, recall, _) = run(rows, goldN = 10, 0.9)
    assert(nDocs === 4L)
    assert(nTrue === 1L && nHit === 1L)
    assert(recall === 1000000L)
  }

  test("dissimilar corpus: zero true pairs, guards report 0") {
    val rows = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine",
      3L -> "red orange yellow green blue indigo violet colors")
    val (_, nTrue, _, _, recall, _) = run(rows, goldN = 10, 0.9)
    assert(nTrue === 0L && recall === 0L)
  }

  test("goldN truncates the subset deterministically") {
    val rows = (1L to 20L).map(i => i -> s"document number $i body words")
    val (nDocs, _, _, _, _, _) = run(rows, goldN = 5, 0.9)
    assert(nDocs === 5L)
  }

  test("sweep: the production config's row reproduces d18's numbers") {
    import spark.implicits._
    import graft.operators.DetParams.{MinhashBands, MinhashRows}
    val base = "the quick brown fox jumps over the lazy dog repeatedly"
    val rows = Seq(1L -> base, 2L -> base, 3L -> (base + " with a tail"),
      4L -> "entirely unrelated content about geology and strata")
    val single = run(rows, goldN = 10, 0.5)
    val (sweepDf, _) = DedupOps.lshRecallSweep(
      rows.toDF("doc_id", "text"), "doc_id", "text", 0.5, 10,
      Seq((MinhashBands, MinhashRows), (6, 2)))
    val sweep = sweepDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val prod = sweep((MinhashBands.toLong, MinhashRows.toLong))
    assert(prod === ((single._2, single._3, single._4, single._5, single._6)))
    // truth is config-independent: every sweep row shares n_true
    assert(sweep.values.map(_._1).toSet.size === 1)
    // 6x2 banding can only surface MORE of the same truth
    assert(sweep((6L, 2L))._3 >= prod._3)
  }
}
