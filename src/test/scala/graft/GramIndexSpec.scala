package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** The persisted gram index (r14 verdict item 7): [[DedupOps
  * .buildGramIndex]] writes the base gram set ONCE as a bucketed
  * catalog table; the index-fed admission/strip faces must be
  * result-identical to the recompute-fed operators over the same base
  * snapshot, and the index side of the semi-join must read WITHOUT an
  * exchange (the bucket layout is the point — the base is never
  * re-shuffled, let alone re-exploded, per batch). */
class GramIndexSpec extends AnyFunSuite with SparkSessionFixture {

  private val W = 10
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val base = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val delta = docs.filter(col("doc_id") % 5 === 0)
  private val toks = QuerySupport.cleanTokens

  private var built = false
  private def buildOnce(): Unit = synchronized {
    if (!built) {
      spark.sql("DROP TABLE IF EXISTS gram_idx_spec")
      DedupOps.buildGramIndex(base, "doc_id", toks, W,
        "gram_idx_spec", numBuckets = 32)
      built = true
    }
  }

  test("index-fed admission equals recompute-fed over the same base") {
    buildOnce()
    val idx = spark.table("gram_idx_spec")
    val want = DedupOps.exactSubstringSpansVsBase(
        delta, base, "doc_id", toks, toks, W)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty, "fixture produced no vs-base spans")
    val got = DedupOps.exactSubstringSpansVsIndex(
        delta, idx, "doc_id", toks, W)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === want)
  }

  test("index-fed strip equals recompute-fed strip") {
    buildOnce()
    val idx = spark.table("gram_idx_spec")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = canon(DedupOps.exactSubstringStripVsBase(
      delta, base, "doc_id", toks, toks, W))
    val got = canon(DedupOps.exactSubstringStripVsIndex(
      delta, idx, "doc_id", toks, W))
    assert(got === want)
    assert(want.exists(_._4 > 0), "no arriving doc ever stripped")
  }

  test("the index side of the semi-join reads with no shuffle exchange") {
    buildOnce()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // at sf0.001 the tiny index would be BROADCAST (also exchange-free
    // for it, but then the bucket layout is never exercised) — force
    // the shuffled-join regime the 100 TB index lives in
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val idx = spark.table("gram_idx_spec")
      val df = DedupOps.exactSubstringSpansVsIndex(
        delta, idx, "doc_id", toks, W)
      df.collect()
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.finalPhysicalPlan)
        case q: QueryStageExec => unwrap(q.plan)
        case _ => p
      }
      def nodes(p0: SparkPlan): Seq[SparkPlan] = {
        val p = unwrap(p0)
        p +: p.children.flatMap(nodes)
      }
      val all = nodes(df.queryExecution.executedPlan)
      val indexScans = all.collect {
        case s: FileSourceScanExec
          if s.toString.contains("gram_idx_spec") => s
      }
      assert(indexScans.nonEmpty, "index scan missing from the plan")
      assert(indexScans.forall(_.toString.contains("Bucketed: true")),
        "the index scan did not use the bucket layout")
      // a re-shuffle of the INDEX data would sit between the join and
      // the index scan: an exchange whose subtree holds the index scan
      // but no join. (Exchanges ABOVE the join — e.g. the doc-keyed
      // island exchange — legitimately see the scan through the join.)
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val offending = all.collect {
        case e: ShuffleExchangeLike
          if nodes(e).exists(_.toString.contains("gram_idx_spec")) &&
            !nodes(e).drop(1).exists(_.isInstanceOf[BaseJoinExec]) => e
      }
      assert(offending.isEmpty,
        s"the bucketed gram index was re-exchanged at read time:\n" +
          offending.mkString("\n"))
    } finally spark.conf.set(thresholdKey, saved)
  }
}
