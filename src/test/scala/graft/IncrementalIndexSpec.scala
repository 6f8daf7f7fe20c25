package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** [[DedupOps.writeSignatureIndex]] + [[DedupOps.incrementalDedupFromIndex]]
  * (r16 verdict #1): the stored-index admission must be RESULT-
  * identical to the inline [[DedupOps.incrementalDedup]] on
  * the same (base, delta) — the index is an execution artifact, never
  * a semantics change. Also pins the layout contract: the bands table
  * is band-partitioned with no text column anywhere in the index. */
class IncrementalIndexSpec extends AnyFunSuite with SparkSessionFixture {

  // md5-derived token bodies: decorrelated in character-trigram space
  // (the ScaleProbe bandCorpus lesson — raw-id tokens make consecutive
  // docs genuine near-dups), so only the PLANTED pairs are similar
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def body(seed: Int): String =
    (0 until 12).map(j => md5hex(s"doc$seed:$j")).mkString(" ")

  private def corpus(n: Int) = {
    import spark.implicits._
    // planted structure: every doc with id % 10 == 0 (a DELTA doc
    // under the % 5 split) is a near-copy of base doc id+1 (one
    // appended word); delta docs with id % 10 == 5 stay unique
    (0 until n).map { i =>
      val text =
        if (i % 10 == 0) body(i + 1) + " extra" else body(i)
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("stored-index admission == inline admission, layout honors the contract") {
    val docs = corpus(200)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val stage = tempDir("incr_index").toString

    val (inline, relInline) = DedupOps.incrementalDedup(
      base, delta, "doc_id", "text", threshold = 0.6)
    val expected = inline.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_._1).toSeq
    relInline()

    DedupOps.writeSignatureIndex(base, "doc_id", "text", stage, numFiles = 4)
    val (fromIndex, relIdx) = DedupOps.incrementalDedupFromIndex(
      spark, stage, delta, "doc_id", "text", threshold = 0.6)
    val actual = fromIndex.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_._1).toSeq
    relIdx()

    assert(actual === expected)
    assert(expected.exists(_._2 >= 0L),
      "corpus must plant at least one cross-set duplicate or the " +
        "parity claim is vacuous")

    // layout contract: band-partitioned dirs, no text anywhere
    val bandDirs = new java.io.File(s"$stage/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("band="))
    assert(bandDirs.nonEmpty, "bands table must be partitioned by band")
    val bandSchema = spark.read.parquet(s"$stage/bands").schema.fieldNames.toSet
    val tgSchema = spark.read.parquet(s"$stage/trigrams").schema.fieldNames.toSet
    assert(!bandSchema.contains("text") && !tgSchema.contains("text"),
      "the index must never store corpus text")
  }

  test("a second delta batch admits against the SAME stored index unchanged") {
    // the artifact's point: batch k+1 pays no base-side work — and in
    // particular re-using the index files must keep giving exact
    // results (no per-batch state inside the index)
    val docs = corpus(200)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val stage = tempDir("incr_index2").toString
    DedupOps.writeSignatureIndex(base, "doc_id", "text", stage, numFiles = 4)
    for (rem <- Seq(0, 5)) {
      val delta = docs.filter(col("doc_id") % 10 === rem)
      val (inline, r1) = DedupOps.incrementalDedup(
        base, delta, "doc_id", "text", threshold = 0.6)
      val expected = inline.collect().map(_.toString).sorted.toSeq
      r1()
      val (fromIdx, r2) = DedupOps.incrementalDedupFromIndex(
        spark, stage, delta, "doc_id", "text", threshold = 0.6)
      val actual = fromIdx.collect().map(_.toString).sorted.toSeq
      r2()
      assert(actual === expected, s"delta slice rem=$rem diverged")
    }
  }

  test("broadcast guard (r18): over-bound collision sets fall back to " +
      "an unhinted spillable semi join, result-identical") {
    val docs = corpus(200)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val stage = tempDir("incr_index3").toString
    DedupOps.writeSignatureIndex(base, "doc_id", "text", stage, numFiles = 4)
    val (viaBroadcast, r1) = DedupOps.incrementalDedupFromIndex(
      spark, stage, delta, "doc_id", "text", threshold = 0.6)
    val expected = viaBroadcast.collect().map(_.toString).sorted.toSeq
    r1()
    // force EVERY collision set over the bound — the high-duplication
    // regime the guard exists for — and disable the engine's OWN
    // broadcast election (AQE will otherwise rightly broadcast the
    // test-sized id set from runtime stats; a forced broadcast() hint
    // would ignore these thresholds, which is exactly what the pin
    // distinguishes: above the bound the join must be left to the
    // planner, never hint-forced)
    sys.props("graft.d36.broadcastIds") = "0"
    val prevAuto = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val (guarded, r2) = DedupOps.incrementalDedupFromIndex(
        spark, stage, delta, "doc_id", "text", threshold = 0.6)
      val actual = guarded.collect().map(_.toString).sorted.toSeq
      // the fallback semi-prune must not broadcast-build the id set:
      // no BroadcastHashJoin LeftSemi anywhere in the executed plan
      // (AQE may still broadcast OTHER joins, e.g. the delta side of
      // the candidate join — the pin is on the semi joins)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      def broadcastSemis(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => broadcastSemis(a.finalPhysicalPlan)
        case q: QueryStageExec => broadcastSemis(q.plan)
        case b: BroadcastHashJoinExec if b.joinType == LeftSemi =>
          1 + b.children.map(broadcastSemis).sum
        case _ => p.children.map(broadcastSemis).sum
      }
      val guarded2 = DedupOps.incrementalDedupFromIndex(
        spark, stage, delta, "doc_id", "text", threshold = 0.6)
      guarded2._1.collect()
      assert(broadcastSemis(guarded2._1.queryExecution.executedPlan) == 0,
        "over-bound collision set must not broadcast the semi-prune")
      guarded2._2()
      r2()
      assert(actual === expected, "guarded fallback diverged")
    } finally {
      sys.props.remove("graft.d36.broadcastIds")
      prevAuto match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
