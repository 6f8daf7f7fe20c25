package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** Sketch/graph operators: bitmap distinct, CMS, bloom semi-join, top-k aggregate, quantile sketch, PageRank, adaptive-floor histogram.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object SketchGraphQueries {
  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact distinct via custom bitmap TypedImperativeAggregate:
    // constant-size OR-mergeable state per group (vs countDistinct's
    // per-value expand+merge shuffle) — the precomputed-distinct
    // pattern for dense bounded id domains
    "q21_bitmap_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.plans.BitmapDistinctCount(col("user_id"), 1 << 20)
          .as("n_users"))),


    // constant-state frequency probe (the 100 TB replacement for a
    // full token groupBy when only a known vocabulary matters): one
    // count-min sketch aggregate — mergeable width×depth counter
    // state, built-in codegen'd update — then the probe loop runs on
    // the driver against the collected sketch (bounded: ~1.6 MB, the
    // same constant-size-collect pattern as the k-means centroids).
    // Width (2/eps = 20k) ≫ this corpus's vocabulary, so estimates
    // are collision-free here and hash-match the exact-count oracle;
    // at real vocabularies the same query is the documented
    // overcount-≤-eps·N approximate path.
    "q30_sketch_counts" -> ((s, dir) =>
      SketchOps.cmsTokenCounts(
        t(s, dir, "documents"), cleanTokens,
        LangMarkers.en ++ LangMarkers.de ++ LangMarkers.es ++ LangMarkers.fr)),


    // PageRank over the supplier↔customer trade graph (suppliers at
    // even node ids, customers odd; edges symmetrized so the
    // bipartite graph has no dangling mass). 5 fixed iterations of
    // GraphOps.pageRank — per-iteration keyed join + keyed agg, all
    // rank mass in bit-exact 1e-12 fixed point — checked against a
    // 5-step unrolled-CTE oracle. Top-20 by rank keeps the result
    // stable and small; the double view divides once at the edge.
    "q38_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          (col("l_suppkey").cast("long") * 2).as("src"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
          (col("o_custkey").cast("long") * 2 + 1).as("dst"))
      // no distinct here: pageRank canonicalizes (repartition + local
      // dedup) anyway — a pre-distinct would add a full extra
      // exchange of the edge stream for nothing.
      // symmetrize with a narrow explode, NOT base.union(base.swap):
      // the join side is broadcast, so union's two branches have no
      // exchange to reuse and the scan+join subtree executes TWICE —
      // explode doubles rows in-partition for one join evaluation
      val sym = li.join(o, Seq("ok"))
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val (ranks, _) = GraphOps.pageRank(sym, "src", "dst", iters = 5)
      ranks.select(col("node"),
        (col("pr_fp").cast("double") / lit(1.0e12)).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
    }),


    // Bloom-pruned semi-join (SketchOps.bloomPrunedSemiJoin): the
    // runtime-filter pattern as a library op — a 2^20-bit bitmap of
    // the urgent-order keys built in one narrow pass, shipped as a
    // plan literal, probed map-side in codegen so non-members never
    // reach the join exchange; the exact semi-join then removes the
    // false positives, so the oracle is the plain semi-join.
    // NB the bitmap build is EAGER: constructing this DataFrame runs
    // the narrow build job over orders (the literal must exist at
    // plan time) — correctly charged to this query's bench slot.
    "q40_bloom_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      SketchOps.bloomPrunedSemiJoin(
        t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),


    // top-k per group WITHOUT a sort: plans.TopKRows rides the
    // ordinary hash-aggregate pipeline with a k-element buffer per
    // (partition, group) — q6's window shape sorts group slices even
    // under WindowGroupLimit; this is the constant-state aggregate
    // twin. Deterministic (ord desc, id asc) total order matches the
    // row_number oracle.
    "q41_topk_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.plans.TopKRows.of(col("value"), col("event_id"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "r")))
        .select(col("event_type"), (col("pos") + 1).as("rk"),
          col("r.id").as("event_id"), col("r.ord").as("value"))),


    // mergeable quantile sketch (plans.QuantileSketchAgg) — the
    // 100 TB replacement for q14's exact percentile, whose per-group
    // sort is the known scale pain point. The sketch rides the hash
    // aggregate with O(k·log(n/k)) state and carries its OWN
    // worst-case rank-error accounting (bound += 2^h per level-h
    // compaction — the classic compactor argument). The query then
    // verifies the guarantee against the true distribution in one
    // extra broadcast-join pass: output is the sketch's INVARIANTS
    // (exact n, rank-window property), because the estimates
    // legitimately vary with Spark's merge order while the
    // guarantees must not — same reasoning as the oracle, which
    // checks n and the property, not an estimate byte.
    "q51_quantile_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("v"))
      val sk = ev.groupBy(col("event_type"))
        .agg(graft.plans.QuantileSketchAgg
          .of(col("v"), 400, Seq(0.5, 0.95)).as("sk"))
      val est = sk.select(col("event_type"), col("sk.n").as("n"),
          col("sk.bound").as("bound"), explode(col("sk.qs")).as("q"))
        .select(col("event_type"), col("n"), col("bound"),
          when(col("q.phi") === 0.5, "p50").otherwise("p95").as("phi"),
          col("q.phi").as("phiv"), col("q.est").as("est"))
      val target = greatest(lit(1L), ceil(col("phiv") * col("n")))
      ev.join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"), col("phi"), col("phiv"),
          col("n"), col("bound"), col("est"))
        .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("leq"))
        .select(col("event_type"), col("phi"), col("n"),
          ((col("lt") + lit(1L) <= target + col("bound")) &&
            (col("leq") >= target - col("bound"))).as("ok"))
    }),


    // adaptive quality floor: per-language 10th-percentile cutoff on
    // an alpha-ratio quality signal, then the keep/drop census — the
    // calibrated-threshold pattern ("drop the worst decile of EACH
    // language", not one global floor that ejects whole low-resource
    // languages). Quality is BIGINT micro-units via integer div (a
    // ratio of integer counts — exactly the q29 tie class), and the
    // percentile comes from a cumulative window over the per-language
    // HISTOGRAM of those micro-units (m10's trick: the histogram is
    // bounded at 1e6+1 rows per language at ANY corpus size, so there
    // is never a raw-row sort; cutoff selection `10*cum >= n` is
    // integer, cum is exact). The q51 sketch is the same pattern when
    // even the histogram key space is unbounded.
    "q52_adaptive_quality" -> ((s, dir) => {
      val hist = t(s, dir, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("lang"),
          expr("(1000000 * cast(length(regexp_replace(text, '[^A-Za-z]', '')) as bigint)) div length(text)")
            .as("q_mu"))
        .groupBy(col("lang"), col("q_mu"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      val wc = Window.partitionBy(col("lang")).orderBy(col("q_mu"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("lang"))
      val cut = hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wn))
        .filter(col("cum") * 10 >= col("n"))
        .groupBy(col("lang")).agg(min(col("q_mu")).as("cutoff_mu"))
      hist.join(cut, Seq("lang"))
        .groupBy(col("lang"), col("cutoff_mu"))
        .agg(sum(col("cnt")).as("n_total"),
          sum(when(col("q_mu") >= col("cutoff_mu"), col("cnt"))
            .otherwise(lit(0L))).as("n_kept"))
    })
  )
}
