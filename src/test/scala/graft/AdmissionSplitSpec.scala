package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.{DedupOps, GraphOps, SketchOps}

/** d29 (Bloom chunk admission) and d30 (leakage-free split) — the
  * operator-level invariants their corpus oracles cannot state
  * directly:
  *
  *  - d29: the Bloom-pruned semi-join equals the PLAIN semi-join on
  *    an adversarially small bitmap (high false-positive pressure —
  *    the exact verify must absorb every FP), and the Bloom probe
  *    never drops a true member (no false negatives by construction).
  *  - d30: no near-dup cluster ever spans two splits (the leakage
  *    invariant), and the assignment is a pure function of the
  *    CLUSTER label — stable when docs are added to a cluster whose
  *    label (min member id) is unchanged.
  */
class AdmissionSplitSpec extends AnyFunSuite with SparkSessionFixture {

  test("bloom-pruned semi-join == plain semi-join under FP pressure") {
    import spark.implicits._
    val base = (0 until 500).map(i => s"k$i").toDF("k")
    val probe = (250 until 1000).map(i => s"k$i").toDF("k")
      .withColumnRenamed("k", "pk")
    // bits = 64 with 500 build keys: the bitmap saturates, nearly
    // every probe is bloom-positive — the exact join must remove them
    val got = SketchOps.bloomPrunedSemiJoin(probe, "pk", base, "k",
        bits = 64, hashes = 3)
      .select(col("pk")).collect().map(_.getString(0)).toSet
    val want = (250 until 500).map(i => s"k$i").toSet
    assert(got === want)
  }

  test("no cluster spans two splits; split is a cluster-label function") {
    import spark.implicits._
    // three planted near-dup clusters (shared long token spans) plus
    // singleton noise — same corpus shape the d-family fixtures use
    val span =
      "the quick brown fox jumps over the lazy dog again and again today"
    val docs = (
      (0 until 3).map(i => (i.toLong, s"$span version alpha copy number " +
        ("alpha " * (i + 1)).trim)) ++
      (10 until 13).map(i => (i.toLong, s"$span version beta copy number " +
        ("beta " * (i - 9)).trim)) ++
      (20 until 40).map(i => (i.toLong,
        s"unique document body ${('a' + i).toChar} with its own words " +
        s"nothing shared here ${('a' + i).toChar}"))
    ).toDF("doc_id", "text")

    val (cc, _) = GraphOps.connectedComponents(
      DedupOps.minhashCandidatePairs(docs, "doc_id", "text"),
      "doc_a", "doc_b")
    val lab = cc.select(col("node").as("doc_id"), col("component").as("cluster"))
    val h = pmod(DedupOps.md5Hash32(
      concat(lit("split:"), col("cluster").cast("string"))), lit(10))
    val split = docs.select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .select(col("doc_id"), col("cluster"),
        when(h === 0, "test").when(h === 1, "val")
          .otherwise("train").as("split"))

    val rows = split.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 26)
    // leakage invariant: one split per cluster
    val perCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(perCluster.values.forall(_.size == 1),
      perCluster.filter(_._2.size > 1).toMap.toString)
    // the planted clusters actually closed (invariant isn't vacuous)
    assert(rows.groupBy(_._2).count(_._2.length >= 3) >= 2,
      rows.mkString(","))
    // purity: recomputing the split of a cluster's members from the
    // label alone reproduces the assignment
    rows.foreach { case (_, cluster, sp) =>
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$cluster".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val hv = java.lang.Long.parseLong(md5hex.take(8), 16) % 10
      val want = if (hv == 0) "test" else if (hv == 1) "val" else "train"
      assert(sp === want, s"cluster $cluster")
    }
  }
}
