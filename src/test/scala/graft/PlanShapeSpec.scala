package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the scale-critical plan
  * properties the operator Scaladocs claim — column pruning reaching
  * the scan, map-side prunes, TakeOrderedAndProject instead of global
  * sorts, and exchange reuse on the banded self-joins. A future edit
  * that silently de-optimizes one of these shapes fails here, not in
  * a 100 TB postmortem. Assertions are deliberately loose (substring
  * presence, not full plan text) to survive Spark version drift. */
class PlanShapeSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  /** Pre-execution formatted plan. NOTE: building a query DataFrame
    * can itself run eager jobs and persist (q38's rounds, bloom
    * builds), so sweep after explaining too. */
  private def formatted(name: String): String = {
    val s = SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    SparkEntry.releasePersisted(spark)
    s
  }

  /** Post-AQE executed plan (runtime ReusedExchange lives only here). */
  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // sweep the RDD-level round leaves too (q38/CC paths), or they
    // leak into later suites' cache-hygiene assertions (suite order
    // is NOT fixed: sbt runs previously-failing suites first)
    SparkEntry.releasePersisted(spark)
    s
  }

  test("m5 scoring chain is a pure narrow projection — zero exchanges") {
    // the 100 TB contract of the scoring path: scan → fused
    // clean_tokens → stop words → broadcast LR margin, never a
    // shuffle — scoring a corpus must cost exactly one pass
    val plan = executed("m5_sentiment")
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("clean_tokens"), plan)
  }

  test("p5 projection prunes the documents scan to the selected columns") {
    val plan = formatted("p5_final_project")
    val schema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(schema.contains("doc_id") && schema.contains("lang"))
    assert(!schema.contains("text"), "unprojected text column read from parquet")
  }

  test("q40 probes the Bloom bitmap in a Filter, not inside the join") {
    val plan = formatted("q40_bloom_join")
    // the probe (xxhash64 bit tests) must appear in a Filter node so
    // it runs map-side before the exchange
    val filterBlock = plan.split("\\n\\n").filter(_.startsWith("("))
      .filter(b => b.contains("Filter") && b.contains("xxhash64"))
    assert(filterBlock.nonEmpty, "bloom probe not in a standalone Filter")
  }

  test("q10 sort+limit plans as TakeOrderedAndProject, never a global sort") {
    val plan = formatted("q10_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q34 and q45 rank-filters get the WindowGroupLimit map-side prune") {
    assert(formatted("q34_group_sample").contains("WindowGroupLimit"))
    assert(formatted("q45_latest_per_key").contains("WindowGroupLimit"))
  }

  test("q41 top-k aggregate runs a map-side partial before the exchange") {
    val plan = formatted("q41_topk_agg")
    assert(plan.contains("partial_top_k_rows"),
      "no map-side partial: every row would cross the shuffle")
    assert(plan.contains("ObjectHashAggregate"))
  }

  test("d2b banded self-join reuses one signature exchange") {
    assert(executed("d2b_minhash_pairs").contains("ReusedExchange"),
      "both self-join sides recomputed the signature pass")
  }

  test("d3b banded self-join reuses one simhash exchange") {
    assert(executed("d3b_simhash_pairs").contains("ReusedExchange"))
  }

  test("d5 banded self-join reuses one sketch exchange and spills (SMJ)") {
    // r16: merge-hinted, not shuffle_hash — a hash build side of
    // n×bands rows each carrying a 64-dim vector grows linearly with
    // the corpus and cannot spill (the q22 sf1 OOM cliff). The merge
    // hint must keep exchange reuse for the self-join.
    val plan = executed("d5_embed_neardup")
    assert(plan.contains("ReusedExchange"),
      "both self-join sides recomputed the sketch pass")
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"),
      "non-spillable hash build on a linear-in-corpus side")
  }

  test("d35/s19 auto faces: SMJ banded joins, no non-spillable hash build") {
    for (q <- Seq("d35_embed_neardup_auto", "s19_ann_join_auto",
                  "s8_ann_join")) {
      val plan = executed(q)
      assert(plan.contains("SortMergeJoin"), s"$q lost its merge pin")
      assert(!plan.contains("ShuffledHashJoin"), s"$q: hash build is back")
    }
    assert(executed("d35_embed_neardup_auto").contains("ReusedExchange"),
      "d35 self-join sides recomputed the sketch pass")
  }

  test("d27/d32/d33: one persisted gram explode, no gh-keyed window census") {
    // r14 pinned ONE Generate (the census+join-back spelling paid the
    // explode twice); r15 additionally pins the census SPELLING: a
    // `count() OVER (PARTITION BY gh)` window routes every occurrence
    // of a hot boilerplate gram (10⁸⁺ at 100 TB) to ONE task, and AQE
    // skew mitigation does not apply to windows. The skew-safe plan is
    // gram table persisted once (both branches read the cache, the
    // Generate runs exactly once inside it), census as a
    // partial-aggregating groupBy, join-back broadcast/AQE-skew-split.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    for (q <- Seq("d27_exact_substring", "d32_span_strip",
                  "d33_span_window_sweep")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val ns = nodes(df.queryExecution.executedPlan)
      assert(ns.count(_.isInstanceOf[GenerateExec]) === 0,
        s"$q: a gram explode runs OUTSIDE the persisted gram table")
      val scans = ns.collect { case s: InMemoryTableScanExec => s }
      assert(scans.size >= 2,
        s"$q: census and probe branches must both read the cached " +
          s"gram table, saw ${scans.size} cache scans")
      // r18: the duplicated-key census may ride its OWN small cache
      // (the adaptive semi-prune persists + counts it once for the
      // tier choice and the join), so the pin is: exactly ONE cached
      // plan holds the gram explode, and any other cached plan must
      // itself read that gram cache (never a second explode)
      val cached = scans.map(_.relation.cachedPlan).distinct
      val gramCaches = cached.filter(p =>
        nodes(p).count(_.isInstanceOf[GenerateExec]) == 1)
      assert(gramCaches.size === 1,
        s"$q: expected exactly one cached gram explode, " +
          s"got ${gramCaches.size} of ${cached.size} caches")
      assert(cached.map(p =>
          nodes(p).count(_.isInstanceOf[GenerateExec])).sum === 1,
        s"$q: a gram explode ran outside the one gram cache")
      cached.filterNot(gramCaches.contains).foreach { other =>
        val nested = nodes(other).collect {
          case s: InMemoryTableScanExec => s.relation.cachedPlan }
        assert(nested.contains(gramCaches.head),
          s"$q: a derived cache does not read the gram cache")
      }
      val ghWindows = ns.collect {
        case w: WindowExec if w.partitionSpec.exists(
          _.references.exists(_.name == "gh")) => w
      }
      assert(ghWindows.isEmpty,
        s"$q: gh-partitioned window census — the hot-gram single-task funnel")
      SparkEntry.releasePersisted(spark)
    }
  }

  test("q22 salted join keeps the sort-merge strategy end to end") {
    // two regressions this pins: (round 6) left to stats, AQE elected
    // to BROADCAST the saltFactor-x replicated small side — which
    // un-salts the join (a broadcast join has no reducer skew to
    // spread) and at the operator's documented scale would collect
    // the whole replicated table onto the driver; (round 15) the r6
    // shuffle_hash pin planted the opposite cliff — ShuffledHashJoin
    // cannot spill its per-partition build, and the 10x sf1 sweep
    // OOM'd it outright ("not enough memory to build hash map").
    // The merge hint must survive into the executed plan as a
    // SortMergeJoin with no broadcast and no shuffled-hash anywhere.
    val plan = executed("q22_salted_join")
    assert(plan.contains("SortMergeJoin"),
      s"salted join lost its sort-merge pin:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "AQE broadcast the replicated side — the salt is moot")
    assert(!plan.contains("ShuffledHashJoin"),
      "shuffled-hash build cannot spill — the r15 sf1 OOM cliff")
    // the r15 verdict's spread assertion: the join's exchange must
    // partition on (key, __salt) — a key-only hashpartitioning would
    // re-funnel a hot key to one reducer and the salt would be dead
    // weight
    assert(plan.contains("__salt"),
      "the salt column left the exchange keys — hot keys re-funnel")
  }

  test("q55 targeted salting: SMJ on (key, salt), no broadcast, no hash build") {
    // same pins as q22 for the hot-key-targeted variant; the salt
    // column must reach the exchange even when only detected-hot keys
    // carry a nonzero salt
    val plan = executed("q55_salted_join_hot")
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"),
      "AQE broadcast the replicated side — the salt is moot")
    assert(!plan.contains("ShuffledHashJoin"),
      "shuffled-hash build cannot spill — the r15 sf1 OOM cliff")
    assert(plan.contains("__salt"),
      "the salt column left the exchange keys — hot keys re-funnel")
  }

  test("d14/d36 incremental admission: no non-spillable hash build") {
    // r16 verdict #2: d14's band join carried the r6-era shuffle_hash
    // pin — a hash build LINEAR IN THE BASE CORPUS that cannot spill,
    // the exact sf1 OOM cliff the s8/s19/d5/d35 merge migration
    // measured. d14 is now merge-hinted; d36 (stored-index path) is
    // unhinted so AQE may broadcast the DELTA side (bounded by the
    // batch premise) — either way ShuffledHashJoin must never appear.
    for (q <- Seq("d14_incremental_dedup", "d36_dedup_from_index")) {
      val plan = executed(q)
      assert(!plan.contains("ShuffledHashJoin"),
        s"$q: non-spillable hash build on a corpus-sized side")
    }
  }

  test("q56 global ranks never funnel through Exchange SinglePartition") {
    // the operator's whole reason to exist (r16 verdict #4): the
    // naive global window sorts the entire input in ONE task; the
    // two-pass plan must show only balanced exchanges (range on the
    // order key, hash on the bucket id)
    val plan = executed("q56_global_rank")
    assert(!plan.contains("SinglePartition"),
      s"global rank funneled through one partition:\n$plan")
  }

  test("t30 funnel is join-free: one corpus scan, one exchange (the census agg)") {
    // r16 rewrite: the old spelling left-joined three per-family
    // verdict tables — four corpus scans and three full-corpus
    // shuffles on the doc id for per-row arithmetic. The verdict
    // projection must stay a single stateless pass; the only
    // exchange is the per-source census aggregation.
    val plan = executed("t30_filter_funnel")
    for (join <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
      assert(!plan.contains(join), s"$join crept back into the funnel:\n$plan")
  }

  test("t14 census plan touches the corpus exactly once (rates are driver-side)") {
    // the regression this pins: deriving the rate table as a dependent
    // DataFrame re-derived the counts subtree under each consumer and
    // the corpus scan ran twice despite AQE exchange reuse; rates are
    // now computed once from a constant-size collect, so the census
    // DAG itself must contain exactly ONE file scan (the filter pass)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("t14_mix_rebalance")(spark, sf)
    df.collect()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
      case q: QueryStageExec => countScans(q.plan)
      case _: FileSourceScanExec => 1
      case _ => p.children.map(countScans).sum
    }
    val n = countScans(df.queryExecution.executedPlan)
    SparkEntry.releasePersisted(spark)
    assert(n == 1, s"census plan must scan the corpus once, got $n")
  }

  test("t18 encode census plan scans the corpus exactly once") {
    // the fit loop's 8 argmax collects run at DataFrame-construction
    // time; the RETURNED census DAG must be one corpus scan -> word
    // agg -> narrow replaces -> explode -> symbol agg. A second scan
    // would mean the encode path re-derived the word table.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("t18_bpe_encode")(spark, sf)
    df.collect()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
      case q: QueryStageExec => countScans(q.plan)
      case _: FileSourceScanExec => 1
      case _ => p.children.map(countScans).sum
    }
    val n = countScans(df.queryExecution.executedPlan)
    assert(n == 1, s"encode census must scan the corpus once, got $n")
  }

  test("t17 windows run over the bounded histogram, never raw corpus rows") {
    // the tercile cutoffs come from a per-(lang, score_m) HISTOGRAM
    // aggregate; every WindowExec in the executed plan must therefore
    // have a HashAggregate strictly below it on every input path — a
    // window whose subtree reaches a file scan without passing an
    // aggregate is the unbounded raw-row sort this design forbids.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("t17_heldout_lm")(spark, sf)
    df.collect()
    def scanWithoutAgg(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => scanWithoutAgg(a.finalPhysicalPlan)
      case q: QueryStageExec => scanWithoutAgg(q.plan)
      case _: BaseAggregateExec => false // aggregate bounds this path
      case _: FileSourceScanExec => true
      case _ => p.children.exists(scanWithoutAgg)
    }
    def offendingWindows(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => offendingWindows(a.finalPhysicalPlan)
      case q: QueryStageExec => offendingWindows(q.plan)
      case w: WindowExec =>
        (if (scanWithoutAgg(w.child)) 1 else 0) + offendingWindows(w.child)
      case _ => p.children.map(offendingWindows).sum
    }
    val n = offendingWindows(df.queryExecution.executedPlan)
    assert(n == 0, s"$n window(s) run over raw (un-aggregated) scan rows")
  }

  test("m15 vote tie-break stays in the hash aggregate (one Window only)") {
    // the plan's ONLY WindowExec is bruteForceTopK's per-query
    // row_number (partitioned by q_id, per-partition bounded, gets the
    // q34/q45 WindowGroupLimit prune). The majority vote + tie-break
    // is min(struct(-cnt, label)) inside a hash aggregate; a SECOND
    // window means the vote regressed to a rank-over-partition sort.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("m15_knn_eval")(spark, sf)
    df.collect()
    def windows(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => windows(a.finalPhysicalPlan)
      case q: QueryStageExec => windows(q.plan)
      case _: WindowExec => 1
      case _ => p.children.map(windows).sum
    }
    val n = windows(df.queryExecution.executedPlan)
    assert(n == 1, s"m15 plan must contain exactly the top-k WindowExec, got $n")
  }

  test("d16 sweep scans the corpus once across all four configs") {
    // all configs ride one exploded stream; bucket sizes come from a
    // per-bucket window so the whole sweep is one scan + one shuffle
    // (the 4-row config frame join adds no second corpus scan)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("d16_lsh_sweep")(spark, sf)
    df.collect()
    val seen = scala.collection.mutable.Set[Int]()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
      case q: QueryStageExec =>
        if (seen.add(q.id)) countScans(q.plan) else 0
      case _: FileSourceScanExec => 1
      case _ => p.children.map(countScans).sum
    }
    val n = countScans(df.queryExecution.executedPlan)
    assert(n == 1, s"sweep must scan the corpus once, got $n")
  }

  test("m18 thresholds ride one corpus scan; t22 KL runs on the grid") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val seen = scala.collection.mutable.Set[Int]()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
      case q: QueryStageExec =>
        if (seen.add(q.id)) countScans(q.plan) else 0
      case _: FileSourceScanExec => 1
      case _ => p.children.map(countScans).sum
    }
    // m18: the 3x threshold explode must not triple the corpus scan
    // (the LR fit runs eagerly at build time, outside this lazy plan)
    val m18 = SparkEntry.queries("m18_pr_thresholds")(spark, sf)
    m18.collect()
    seen.clear()
    assert(countScans(m18.queryExecution.executedPlan) == 1,
      s"m18 lazy plan must scan documents once:\n${m18.queryExecution.executedPlan}")
    // t22: the HEAVY column (text) is scanned exactly once — the
    // occurrence pass; every other documents reference is a
    // source-only pruned scan (one column, cheap at any corpus size)
    // because the KL algebra runs on the grid table
    val t22 = SparkEntry.queries("t22_source_kl")(spark, sf)
    t22.collect()
    seen.clear()
    def textScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => textScans(a.finalPhysicalPlan)
      case q: QueryStageExec =>
        if (seen.add(1000 + q.id)) textScans(q.plan) else 0
      case f: FileSourceScanExec =>
        if (f.output.exists(_.name == "text")) 1 else 0
      case _ => p.children.map(textScans).sum
    }
    val n22 = textScans(t22.queryExecution.executedPlan)
    assert(n22 == 1,
      s"t22 must scan the text column exactly once, got $n22:\n" +
        t22.queryExecution.executedPlan)
    SparkEntry.releasePersisted(spark)
  }

  test("s13 sweep: more probe budgets do NOT add corpus scans") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.col
    val seen = scala.collection.mutable.Set[Int]()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
      case q: QueryStageExec =>
        if (seen.add(q.id)) countScans(q.plan) else 0
      case _: FileSourceScanExec => 1
      case _ => p.children.map(countScans).sum
    }
    def scansFor(budgets: Seq[Int]): Int = {
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val df = graft.operators.SimilarityOps.ivfProbeSweep(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        numCentroids = 16, budgets = budgets, k = 5)
      df.collect()
      seen.clear()
      countScans(df.queryExecution.executedPlan)
    }
    // the d16 claim transplanted: every budget is a filter over the
    // SAME scored candidate stream, so the scan count is independent
    // of how many budgets the sweep prices
    assert(scansFor(Seq(1)) == scansFor(Seq(1, 2, 4)))
  }

  test("q38 final PageRank round shuffles ONLY the rank-sum aggregation") {
    import org.apache.spark.sql.functions._
    // the r5 contract: edges cached clustered by src, nodes by node,
    // rounds truncated through partitioning-declaring leaves — so the
    // lazy final iteration contains exactly ONE shuffle exchange (the
    // dst-keyed rank-sum agg). A second exchange means a cached side
    // or the materialized rank vector lost its clustering claim.
    val edges = spark.range(0, 2000)
      .select((col("id") % 97).as("src"), (col("id") % 89 + 100).as("dst"))
    // force the distributed rounds: a graph this small normally closes
    // on the driver under the r18 finish bound, and this test pins the
    // DISTRIBUTED round's shuffle count
    sys.props("graft.pr.finishEdges") = "0"
    val (pr, release) = try graft.operators.GraphOps
      .pageRank(edges, "src", "dst", iters = 3)
    finally sys.props.remove("graft.pr.finishEdges")
    try {
      assert(pr.count() > 0) // materialize so AQE's final plan exists
      // count the runtime shuffle stages of the final round: AQE
      // inserts exchanges lazily (inputPlan is pre-EnsureRequirements)
      // so only the executed final plan is authoritative. Does NOT
      // descend into InMemoryTableScan's cached relation — those
      // exchanges ran once at build time, not per round.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
      def countShuffles(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => countShuffles(a.finalPhysicalPlan)
        case s: ShuffleQueryStageExec => 1 + countShuffles(s.plan)
        case q: QueryStageExec => countShuffles(q.plan)
        case _ => p.children.map(countShuffles).sum
      }
      val n = countShuffles(pr.queryExecution.executedPlan)
      assert(n == 1,
        s"expected exactly 1 per-round shuffle (the rank-sum agg), got $n:\n" +
          pr.queryExecution.executedPlan)
    } finally release()
  }

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def countScans(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countScans(a.finalPhysicalPlan)
    case q: QueryStageExec => countScans(q.plan)
    case _: FileSourceScanExec => 1
    case _ => p.children.map(countScans).sum
  }

  private def executedPlanOf(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    SparkEntry.releasePersisted(spark)
    p
  }

  test("t31 PII scan: one corpus scan (probe is a local relation)") {
    val p = executedPlanOf("t31_pii_scan")
    assert(countScans(p) == 1, s"expected 1 file scan:\n$p")
  }

  test("t32 readability is a pure narrow projection — zero exchanges") {
    val p = executedPlanOf("t32_readability")
    assert(!p.toString.contains("Exchange"), p)
    assert(countScans(p) == 1, s"expected 1 file scan:\n$p")
  }

  test("t33 boilerplate census: TakeOrdered cutoff, no global sort") {
    val p = executedPlanOf("t33_boilerplate").toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Sort ") && !l.contains("TakeOrdered")), p)
  }

  test("t34 strip accounting: census + probe, never a third text pass") {
    val p = executedPlanOf("t34_strip_boilerplate")
    assert(countScans(p) <= 2, s"expected <= 2 file scans:\n$p")
  }

  test("d18/d19 gold-subset evals: one text scan via the persisted trigram table") {
    // exact truth, banded candidates, and (d19) every config's keys
    // all consume the ONE persisted gold trigram table — a second
    // file scan means the persist stopped covering a consumer
    for (q <- Seq("d18_lsh_recall", "d19_recall_sweep")) {
      val n = countScans(executedPlanOf(q))
      assert(n <= 1, s"$q: expected <= 1 file scan, got $n")
    }
  }

  test("s16 silhouette: embeddings scanned only inside the one dist cache build") {
    // the dist frame feeds an AGGREGATE and a row-level JOIN (the
    // d16 agg-vs-join class ReusedExchange cannot cover) — the
    // round-9 persist means the final plan consumes ONLY the cache:
    // no file scan may survive outside the single cached build
    val p = executedPlanOf("s16_silhouette")
    assert(countScans(p) == 0,
      s"embeddings scanned outside the dist cache:\n$p")
    assert(p.toString.contains("InMemoryTableScan"), p.toString)
  }

  test("s17 composed kept+census consumes only the persisted chain") {
    val p = executedPlanOf("s17_kept_census")
    assert(countScans(p) == 0,
      s"embeddings scanned outside the persisted assignment/kept:\n$p")
    assert(p.toString.contains("InMemoryTableScan"), p.toString)
  }

  test("t36 PSI drift: grid arithmetic touches no corpus plan (local relation)") {
    // the one corpus pass happens in the eager 64-cell collect; the
    // returned plan must be pure local-relation arithmetic
    val p = executedPlanOf("t36_psi_drift")
    assert(countScans(p) == 0, s"corpus re-scanned by grid arithmetic:\n$p")
  }

  test("m19 NDCG: the only Window is the bounded per-query top-k") {
    val p = executedPlanOf("m19_ndcg").toString
    val windows = p.linesIterator.count(_.trim.startsWith("+- Window"))
    assert(p.contains("row_number"), p)
    assert(windows <= 1, s"expected a single Window operator:\n$p")
  }

  test("t39 assigns global positions without a single-partition window") {
    // the operator's whole reason to exist: dense global index by
    // bucket-census offsets + 256 bounded per-bucket ranks — a plan
    // that funnels all rows through Exchange SinglePartition is the
    // naive global row_number the oracle (deliberately) uses
    val plan = formatted("t39_train_order")
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // the 256-row offset join
  }

  test("t37 grid assembly stays in-plan (no driver collect, no local grid)") {
    // r12 advice: the former spelling collect()ed the day×bucket
    // occupancy at CONSTRUCTION time and rebuilt the dense grid as a
    // LocalTableScan — eager, horizon-bounded-but-growing, and the
    // census scan escaped bench timing. The dense grid must now come
    // from an explode(sequence) under the distinct days (a Generate
    // node), with zero local relations and no single-partition funnel.
    val plan = formatted("t37_psi_event_drift")
    assert(!plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("t38 probes the 262k vocab by broadcast, never a sort-merge join") {
    // the 100 TB contract: only the token stream shuffles (for the
    // per-source agg); the vocab rides to the executors as a
    // broadcast — a sort-merge join here would shuffle the entire
    // exploded token mass a second time, keyed by term
    val plan = formatted("t38_vocab_coverage")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("v3/v4 media exchanges carry digests/format keys, never payload bytes") {
    // both plans may shuffle only the small derived columns — the
    // payload BLOB must die at the scan-side projection (v4) or the
    // sha2 projection (v3); an Exchange carrying `payload` would
    // move the full media byte mass across the cluster
    for (q <- Seq("v3_media_digest_dedup", "v4_media_sniff")) {
      val plan = formatted(q)
      val exch = plan.split("\\n\\n").filter(b =>
        b.startsWith("(") && b.contains("Exchange"))
      assert(exch.nonEmpty, s"$q: no exchange blocks found\n$plan")
      exch.foreach(b => assert(!b.contains("payload"),
        s"$q: payload bytes cross an exchange\n$b"))
    }
  }
}
